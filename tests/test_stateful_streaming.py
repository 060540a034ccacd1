"""applyInPandasWithState: first-seen dedup across micro-batches with
checkpointed state."""

from __future__ import annotations

import pytest

import json

from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators.incremental import ROLLUP
from gpt_rag_ingestion_spark.operators.snapshot_table import read_snapshot_table
from gpt_rag_ingestion_spark.streaming.micro_batch import SKETCH
from gpt_rag_ingestion_spark.streaming.stateful import streaming_first_seen


def _drain(spark, landing, ckpt, out_dir):
    stream = (
        spark.readStream.schema("key STRING, value STRING")
        .format("json")
        .load(str(landing))
    )
    q = (
        streaming_first_seen(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_first_seen_across_batches(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    out_dir = tmp_path / "out"

    (landing / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "a", "value": "a1"},
                {"key": "a", "value": "a2"},
                {"key": "b", "value": "b1"},
            ]
        )
    )
    _drain(spark, landing, ckpt, out_dir)
    rows = {r["key"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["n_duplicates_dropped"] == 1

    # batch 2: 'a' again (state remembers -> no new emission), 'c' new
    (landing / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"key": "a", "value": "a3"}, {"key": "c", "value": "c1"}]
        )
    )
    _drain(spark, landing, ckpt, out_dir)
    rows2 = [r for r in spark.read.parquet(str(out_dir)).collect()]
    keys = sorted(r["key"] for r in rows2)
    assert keys == ["a", "b", "c"]  # 'a' NOT re-emitted despite new rows
    c_row = next(r for r in rows2 if r["key"] == "c")
    assert c_row["first_value"] == "c1"
    assert c_row["n_duplicates_dropped"] == 0


def test_stream_dedup_within_watermark(spark):
    import __spark_entry__ as entry_mod

    out = entry_mod.q80_stream_dedup(spark, "/root/testdata/sf0.001")
    got = {(r["user_id"], r["event_type"]) for r in out.collect()}
    ev = entry_mod._t(spark, "/root/testdata/sf0.001", "events")
    want = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_session_window_stream_matches_batch(spark, tmp_path):
    """The same session_window aggregation run as a REAL stream
    (AvailableNow, watermark, append mode) must emit exactly the batch
    sessions that the final watermark closes."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["session_start"], r["session_last"], r["n_events"])
        for r in entry_mod.q84_session_window(spark, sf).collect()
    }
    ev = entry_mod._t(spark, sf, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    ts_expr = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if entry_mod._events_ts_unit(sf) == "ns"
        else F.timestamp_micros(F.col("ts"))
    )
    stream = (
        spark.readStream.schema(entry_mod._EVENTS_READ_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select(ts_expr.alias("ts"), "user_id")
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("session_last"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"),
            "session_last", "n_events",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("q84_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["user_id"], r["session_start"], r["session_last"], r["n_events"])
        for r in spark.table("q84_stream_test").collect()
    }
    assert streamed <= batch
    # every session the final watermark strictly closed must be emitted
    import datetime

    gap = datetime.timedelta(minutes=30)
    closed = {s for s in batch if s[2] + gap < max_ts}
    assert closed <= streamed


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Run the watermarked stream-stream interval join as a REAL
    streaming query (file source, availableNow) and assert its output
    equals the same plan run in batch."""
    import json as _json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        interval_join_streams,
    )

    schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()

    def w(d, name, rows):
        (d / name).write_text(
            "\n".join(
                _json.dumps(
                    {"event_id": e, "user_id": u, "ts": f"2024-01-01T00:{m:02d}:00"}
                )
                for e, u, m in rows
            )
        )

    # user 1: click 5 min after impression (match); 2nd click 20 min
    # later (outside 10-min delay); user 2: click before impression
    w(imp_dir, "i.json", [(100, 1, 5), (101, 2, 30)])
    w(clk_dir, "c.json", [(200, 1, 10), (201, 1, 25), (202, 2, 29)])

    imp_s = spark.readStream.schema(schema).format("json").load(str(imp_dir))
    clk_s = spark.readStream.schema(schema).format("json").load(str(clk_dir))
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        interval_join_streams(clk_s, imp_s)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["impression_id"], r["click_id"])
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    assert got == {(100, 200)}

    # batch twin over the same files — identical pairs
    imp_b = spark.read.schema(schema).json(str(imp_dir))
    clk_b = spark.read.schema(schema).json(str(clk_dir))
    batch = {
        (r["impression_id"], r["click_id"])
        for r in interval_join_streams(clk_b, imp_b).collect()
    }
    assert batch == got


def test_incremental_sketch_equals_batch_build(spark, tmp_path):
    """Two micro-batch drains of the sketch maintainer produce the
    SAME bin-count table a one-shot batch build would — the merge is
    the mergeable-summary property, checkpoint makes it incremental."""
    import json as _json

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_sketch,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def rows(lo, hi):
        return [
            {"event_id": i, "event_type": f"t{i % 2}", "value": (i * 7) % 500}
            for i in range(lo, hi)
        ]

    (landing / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows(0, 300))
    )
    run_incremental_sketch(spark, str(landing), sketch, ckpt)
    (landing / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows(300, 500))
    )
    run_incremental_sketch(spark, str(landing), sketch, ckpt)

    got = {
        (r["event_type"], r["bin"]): r["c"]
        for r in bm.read_store(spark, sketch, SKETCH).collect()
    }
    # one-shot batch build over ALL the data
    all_rows = spark.createDataFrame(
        [(r["event_type"], float(r["value"])) for r in rows(0, 500)],
        ["event_type", "value"],
    )
    bin_expr = F.least(
        F.lit(127),
        F.greatest(F.lit(0), F.floor(F.col("value") / 500.0 * 128).cast("int")),
    )
    want = {
        (r["event_type"], r["bin"]): r["c"]
        for r in all_rows.select("event_type", bin_expr.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """J7 as a stream: stream-static broadcast left join — identical
    output from the batch plan and a real AvailableNow stream,
    including facts with no dimension row."""
    import json as _json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        enrich_stream_with_dimension,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [{"k": f"k{i % 5}", "v": i} for i in range(40)]
    rows += [{"k": "orphan", "v": 99}]
    with open(landing / "facts.json", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")

    dim = spark.createDataFrame(
        [(f"k{i}", f"name-{i}") for i in range(5)], "k string, label string"
    )
    cols = ["k", "v", "label"]

    batch_df = spark.read.schema("k STRING, v LONG").json(str(landing))
    want = sorted(
        map(tuple, enrich_stream_with_dimension(batch_df, dim, "k", cols).collect())
    )

    stream = (
        spark.readStream.schema("k STRING, v LONG").format("json")
        .load(str(landing))
    )
    out_dir = tmp_path / "out"
    q = (
        enrich_stream_with_dimension(stream, dim, "k", cols)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(str(out_dir)).collect()))
    assert got == want
    assert ("orphan", 99, None) in got


def test_streaming_ingest_maintains_rollup(spark, tmp_path):
    """Streaming IVM: across two AvailableNow drains (second batch
    replaces one parent and adds one), the incrementally maintained
    rollup equals a recompute over the chunks table."""
    import json as _json

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "chunks")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        run_incremental_ingest(
            spark, str(landing), table, ckpt, rollup_path=rollup
        )

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

    with open(landing / "b1.json", "w") as fh:
        for i in range(3):
            fh.write(_json.dumps(
                {"doc_id": i, "text": "alpha beta " * 30, "source": "s"}
            ) + "\n")
    drain()
    assert maintained() == recompute()

    with open(landing / "b2.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 1, "text": "replaced text " * 10, "source": "s"}
        ) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 9, "text": "brand new doc " * 20, "source": "s"}
        ) + "\n")
    drain()
    assert maintained() == recompute()
    assert len(maintained()) == 4


def test_incremental_ivf_stream_maintains_index(spark, tmp_path):
    """Two AvailableNow drains: the first builds the persisted IVF
    index, the second appends against the existing centroids; queries
    against the maintained index find the appended twins."""
    from gpt_rag_ingestion_spark.operators.similarity import ivf_index_query
    from gpt_rag_ingestion_spark.streaming.micro_batch import run_incremental_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    landing = tmp_path / "landing"
    landing.mkdir()
    idx = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")

    emb.filter("vec_id < 100").coalesce(1).write.mode("overwrite").json(str(landing / "b0"))
    run_incremental_ivf(spark, str(landing) + "/*", idx, ckpt, n_centroids=4)
    assert spark.read.parquet(f"{idx}/postings").count() == 100

    twins = emb.filter("vec_id < 10").selectExpr("vec_id + 5000 AS vec_id", "embedding")
    twins.coalesce(1).write.mode("overwrite").json(str(landing / "b1"))
    run_incremental_ivf(spark, str(landing) + "/*", idx, ckpt, n_centroids=4)
    assert spark.read.parquet(f"{idx}/postings").count() == 110

    res = ivf_index_query(spark, idx, twins, n_probe=2, k=1)
    top = {r["query_id"]: r["corpus_id"] for r in res.filter("rank = 1").collect()}
    assert all(top[i] == i - 5000 for i in top)
    # the build batch is labeled by its batch id (retry idempotence);
    # the baseline records which label is the drift reference
    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.similarity import IVF_INDEX

    meta = bm.read_meta(spark, idx, IVF_INDEX)
    assert set(meta["stats"]) == {"batch-0", "batch-1"}
    assert meta["baseline"]["batch"] == "batch-0"
    from gpt_rag_ingestion_spark.operators.similarity import ivf_needs_refit

    assert ivf_needs_refit(spark, idx, tolerance=0.05) is False


@pytest.mark.slow
def test_incremental_ivf_stream_triggered_compaction(
    spark, tmp_path, collect_aged
):
    """Round-3 brief #6 (index side): with a low max_fragments the
    wired trigger compacts the postings INSIDE the stream loop, and
    queries against the maintained index are unchanged."""
    import os

    from gpt_rag_ingestion_spark.operators.similarity import (
        IVF_INDEX,
        ivf_index_query,
    )
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    landing = tmp_path / "landing"
    landing.mkdir()
    idx = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")
    for i, pred in enumerate(
        ("vec_id < 100", "vec_id >= 100 AND vec_id < 150", "vec_id >= 150 AND vec_id < 200")
    ):
        emb.filter(pred).coalesce(1).write.mode("overwrite").json(
            str(landing / f"b{i}")
        )
        run_incremental_ivf(
            spark, str(landing) + "/*", idx, ckpt, n_centroids=4,
            max_fragments=1,
        )
    # every drain beyond the first exceeded 1 fragment -> compacted
    collect_aged(idx, IVF_INDEX)
    (only,) = os.listdir(f"{idx}/postings")
    assert only.startswith("batch=compacted__g")
    assert spark.read.parquet(f"{idx}/postings").count() == 200
    q = emb.filter("vec_id < 10")
    res = ivf_index_query(spark, idx, q, n_probe=4, k=2)
    assert res.filter("rank = 1").count() == 10


def test_streaming_web_corpus(spark, tmp_path):
    """§2.10 + web-corpus loop composed as a stream: two AvailableNow
    drains, cross-batch dedup against the accumulated corpus, per-batch
    idempotent shard/audit directories."""
    import json

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    shards = str(tmp_path / "shards")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def rows(items):
        return "\n".join(json.dumps(x) for x in items)

    (landing / "b1.json").write_text(
        rows(
            [
                {"doc_id": 1, "url": "https://a.example/x", "text": "alpha " * 40},
                {"doc_id": 2, "url": "https://b.example/y", "text": "beta " * 40},
            ]
        )
    )
    kw = dict(min_chars=10)
    run_streaming_web_corpus(spark, str(landing), corpus, shards, audit, ckpt, **kw)
    assert read_snapshot_table(spark, corpus).count() == 2

    # batch 2: one exact dup of the base, one fresh, one low-quality
    (landing / "b2.json").write_text(
        rows(
            [
                {"doc_id": 3, "url": "https://a.example/x2", "text": "alpha " * 40},
                {"doc_id": 4, "url": "https://c.example/z", "text": "gamma " * 40},
                {"doc_id": 5, "url": "https://d.example/q", "text": "tiny"},
            ]
        )
    )
    run_streaming_web_corpus(spark, str(landing), corpus, shards, audit, ckpt, **kw)

    tbl = read_snapshot_table(spark, corpus)
    assert {r["doc_id"] for r in tbl.collect()} == {1, 2, 4}
    audits = spark.read.parquet(audit)
    disp = {r["doc_id"]: r["disposition"] for r in audits.collect()}
    assert disp[3] == "exact_dup_base"  # deduped ACROSS batches
    assert disp[4] == "admitted"
    assert disp[5] == "low_quality"
    # per-batch directories exist (the idempotent replay unit)
    import os

    assert sorted(os.listdir(audit))[:1] == ["batch=0"] or any(
        d.startswith("batch=") for d in os.listdir(audit)
    )
    assert {r["batch_id"] for r in audits.collect()} == {0, 1}
    sh = spark.read.parquet(shards)
    assert {r["doc_id"] for r in sh.collect()} == {1, 2, 4}


def test_web_corpus_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-offering an already-admitted batch
    resolves every row to exact_dup_base and leaves the corpus
    byte-identical — the property that makes the streaming wrapper's
    foreachBatch effectively exactly-once."""
    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job

    corpus = str(tmp_path / "corpus")
    batch = spark.createDataFrame(
        [(1, "https://a.example/x", "alpha " * 40),
         (2, "https://b.example/y", "beta " * 40)],
        "doc_id LONG, url STRING, text STRING",
    )
    run_web_corpus_job(spark, batch, corpus, str(tmp_path / "s0"), min_chars=10)
    before = sorted(
        (r["doc_id"], r["text"]) for r in read_snapshot_table(spark, corpus).collect()
    )
    audit2 = run_web_corpus_job(
        spark, batch, corpus, str(tmp_path / "s1"), min_chars=10
    )
    assert {r["disposition"] for r in audit2.collect()} == {"exact_dup_base"}
    after = sorted(
        (r["doc_id"], r["text"]) for r in read_snapshot_table(spark, corpus).collect()
    )
    assert after == before


def test_streaming_domain_cap_cumulative(spark, tmp_path):
    """Advisor finding (r3): without persisted counts the per-domain
    cap resets every micro-batch — unbounded over the stream.  With
    ``domain_counts_path`` the cap is cumulative: batch 0 uses 2 of a
    3-row budget, so batch 1 may rank only 1 more row from that
    domain."""
    import json

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path)
    batches = [
        [
            {"doc_id": i, "url": f"https://one.example/p{i}",
             "text": f"distinct page body number {i} " * 10}
            for i in (1, 2)
        ],
        [
            {"doc_id": i, "url": f"https://one.example/p{i}",
             "text": f"distinct page body number {i} " * 10}
            for i in (3, 4, 5)
        ],
    ]
    for i, b in enumerate(batches):
        (landing / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in b)
        )
        run_streaming_web_corpus(
            spark, str(landing), f"{root}/corpus", f"{root}/shards",
            f"{root}/audit", f"{root}/ckpt", min_chars=10,
            cap_per_domain=3,
            domain_counts_path=f"{root}/domain_counts",
        )
    audit = spark.read.parquet(f"{root}/audit")
    by_batch = {
        (r["batch_id"], r["disposition"]): 1 for r in audit.collect()
    }
    n_admitted = audit.filter(F.col("disposition") == "admitted").count()
    n_over = audit.filter(F.col("disposition") == "over_cap").count()
    # 2 admitted in batch 0; batch 1 gets exactly 1 of 3 (budget left)
    assert n_admitted == 3 and n_over == 2
    assert (1, "over_cap") in by_batch
    # counts table: one dir per batch, summing to the 5 ranked rows
    counts = spark.read.parquet(f"{root}/domain_counts")
    assert counts.agg(F.sum("n_ranked")).first()[0] == 5
    assert {
        str(r["batch"]) for r in counts.select("batch").collect()
    } == {"0", "1"}


@pytest.mark.slow
def test_streaming_corpus_table_optimize_trigger(spark, tmp_path):
    """``corpus_max_files`` arms the corpus-table OPTIMIZE inside the
    stream loop: per-batch merges add generations, the trigger folds
    them once the referenced-generation count crosses the threshold,
    and rows are untouched."""
    import json
    import os
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path)
    for i in range(3):
        batch = [
            {"doc_id": 100 * i + j, "url": f"https://d{j}.example/p{100 * i + j}",
             "text": f"page body number {100 * i + j} " * 10}
            for j in range(4)
        ]
        (landing / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in batch)
        )
        run_streaming_web_corpus(
            spark, str(landing), f"{root}/corpus", f"{root}/shards",
            f"{root}/audit", f"{root}/ckpt", min_chars=10,
            corpus_max_files=2,
        )
    gens = [d for d in os.listdir(f"{root}/corpus") if d.startswith("gen-")]
    assert len(gens) <= 2
    tbl = read_snapshot_table(spark, f"{root}/corpus")
    assert tbl.count() == 12
    assert tbl.select("doc_id").distinct().count() == 12


@pytest.mark.slow
def test_streaming_sidecar_triggered_compaction(spark, tmp_path, collect_aged):
    """Round-3 brief #6: the counter-driven sidecar compaction trigger
    fires INSIDE the streamed admission loop (a batch re-admits a doc
    with new text -> dead generation ratio crosses the default
    threshold -> auto-compact), and the lifecycle stays correct across
    it: later batches still classify against the compacted index."""
    import json
    import os

    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.dedup import SIDECAR
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path)
    side = f"{root}/sidecar"
    X, Y, Z = "alpha " * 40, "omega " * 40, "gamma " * 40
    batches = [
        [{"doc_id": 1, "url": "https://a.example/x", "text": X},
         {"doc_id": 2, "url": "https://b.example/y", "text": Z}],
        # doc 1 re-offered with NEW text: classifies 'new' (digest
        # changed), merge replaces it, sidecar append supersedes its
        # generation -> superseded/live = 1/2 > 0.2 -> compact fires
        [{"doc_id": 1, "url": "https://a.example/x", "text": Y}],
        # doc 30 = the RETIRED text X (must admit: corpus no longer
        # holds X) and doc 31 = the live replacement text Y (must dup)
        [{"doc_id": 30, "url": "https://c.example/q", "text": X},
         {"doc_id": 31, "url": "https://c.example/r", "text": Y}],
    ]
    for i, b in enumerate(batches):
        (landing / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in b)
        )
        run_streaming_web_corpus(
            spark, str(landing), f"{root}/corpus", f"{root}/shards",
            f"{root}/audit", f"{root}/ckpt", min_chars=10,
            sidecar_path=side,
        )
        if i == 1:
            # the batch-1 append superseded doc 1 and the wired
            # trigger compacted: counters reset, dirs folded
            meta = bm.read_meta(spark, side, SIDECAR)
            assert meta["superseded"] == 0 and meta["n_live"] == 2
            collect_aged(side, SIDECAR)
            assert os.listdir(f"{side}/digests") == ["batch=compacted__g2"]
    disp = {
        r["doc_id"]: r["disposition"]
        for r in spark.read.parquet(f"{root}/audit").collect()
    }
    assert disp[30] == "admitted"  # retired text no longer matches
    assert disp[31] == "exact_dup_base"  # live replacement matches


def test_streaming_web_corpus_with_sidecar(spark, tmp_path):
    """Sidecar-backed streaming admission: same audits as the text-path
    run, sidecar bootstrapped by batch 0 and appended per micro-batch."""
    import json
    import os

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    batches = [
        [
            {"doc_id": 1, "url": "https://a.example/x", "text": "alpha " * 40},
            {"doc_id": 2, "url": "https://b.example/y", "text": "beta " * 40},
        ],
        [
            {"doc_id": 3, "url": "https://a.example/x2", "text": "alpha " * 40},
            {"doc_id": 4, "url": "https://c.example/z", "text": "gamma " * 40},
        ],
    ]

    def run(name, **extra):
        landing = tmp_path / name / "landing"
        landing.mkdir(parents=True)
        root = str(tmp_path / name)
        for i, b in enumerate(batches):
            (landing / f"b{i}.json").write_text(
                "\n".join(json.dumps(x) for x in b)
            )
            run_streaming_web_corpus(
                spark, str(landing), f"{root}/corpus", f"{root}/shards",
                f"{root}/audit", f"{root}/ckpt", min_chars=10, **extra,
            )
        return root

    plain = run("plain")
    sided = run("sided", sidecar_path=str(tmp_path / "sided" / "sidecar"))
    canon = lambda p: sorted(  # noqa: E731
        (r["doc_id"], r["disposition"], r["dup_of"], r["batch_id"])
        for r in spark.read.parquet(f"{p}/audit").collect()
    )
    assert canon(sided) == canon(plain)
    disp = dict(
        (r["doc_id"], r["disposition"])
        for r in spark.read.parquet(f"{sided}/audit").collect()
    )
    assert disp[3] == "exact_dup_base"
    # sidecar holds the build bootstrap + batch-1 appends
    side = str(tmp_path / "sided" / "sidecar")
    assert sorted(os.listdir(f"{side}/digests")) == [
        "batch=1__g1", "batch=build__g0",
    ]


def test_streaming_ingest_partitioned(spark, tmp_path):
    """partition_cols through the STREAMING ingest: each micro-batch
    merge prunes to its own partitions; re-drained content equals the
    unpartitioned stream's."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    def feed(landing, name, rows):
        (landing / name).write_text("\n".join(json.dumps(r) for r in rows))

    b1 = [
        {"doc_id": 1, "text": "alpha " * 30, "source": "s1"},
        {"doc_id": 2, "text": "beta " * 30, "source": "s2"},
    ]
    b2 = [{"doc_id": 3, "text": "gamma " * 30, "source": "s1"}]

    outs = {}
    for name, pc in (("plain", None), ("parted", ["source"])):
        landing = tmp_path / name / "landing"
        landing.mkdir(parents=True)
        table = str(tmp_path / name / "chunks")
        ckpt = str(tmp_path / name / "ckpt")
        feed(landing, "b1.json", b1)
        run_incremental_ingest(
            spark, str(landing), table, ckpt, partition_cols=pc
        )
        feed(landing, "b2.json", b2)
        run_incremental_ingest(
            spark, str(landing), table, ckpt, partition_cols=pc
        )
        outs[name] = sorted(
            (r["parent_id"], r["chunk_id"], r["content"], r["source"])
            for r in read_snapshot_table(spark, table).collect()
        )
    assert outs["parted"] == outs["plain"] and len(outs["plain"]) > 0
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    parted = str(tmp_path / "parted" / "chunks")
    refs = S._read_manifest(spark, parted, S._current_gen(spark, parted))
    assert {"source=s1", "source=s2"} <= set(refs["partitions"])


def test_streaming_sessions_gap_and_timeout(spark, tmp_path):
    """Custom stateful session windows (streaming/stateful.py
    make_session_fn): gap-closed sessions emit as events arrive;
    idle sessions close via the EVENT-TIME TIMEOUT when the watermark
    passes — across two availableNow cycles of the same checkpoint
    (state survives the restart)."""
    import json

    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.streaming.stateful import (
        streaming_sessions,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "out")

    def run_cycle(_label):
        stream = (
            spark.readStream.schema("key STRING, ts TIMESTAMP")
            .format("json")
            .load(str(src))
            .withWatermark("ts", "0 seconds")
        )
        out = streaming_sessions(stream, gap_ms=10_000)
        (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return {
            (r["key"], r["session_start_ms"]): r
            for r in spark.read.parquet(out_dir).collect()
        }

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"key": k, "ts": ts}) for k, ts in rows
            )
        )

    # batch 1: key a has two sessions separated by > 10s; key b one open
    write_batch("b1.json", [
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-01 00:00:05"),
        ("a", "2024-01-01 00:00:30"),   # > 10s gap -> closes session 1
        ("b", "2024-01-01 00:00:01"),
    ])
    got1 = run_cycle("sess1")
    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    s1 = got1[("a", base)]
    assert (s1["session_end_ms"], s1["n_events"], s1["closed_by"]) == (
        base + 5000, 2, "gap",
    )

    # batch 2: far-future event advances the watermark past both open
    # sessions -> they close by TIMEOUT (state survived the restart)
    write_batch("b2.json", [("c", "2024-01-01 01:00:00")])
    got2 = run_cycle("sess2")
    a2 = got2[("a", base + 30000)]
    assert (a2["n_events"], a2["closed_by"]) == (1, "timeout")
    b1 = got2[("b", base + 1000)]
    assert (b1["n_events"], b1["closed_by"]) == (1, "timeout")


def test_stream_stream_join_with_watermark(spark, tmp_path):
    """True state-store stream-stream join: on-time clicks pair with
    impressions inside the delay window across MICRO-BATCH boundaries
    (state retention), results match the batch interval join, and the
    output is append-exactly-once under AvailableNow re-drains."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_stream_stream_join,
    )

    clicks = tmp_path / "clicks"
    imps = tmp_path / "imps"
    clicks.mkdir(), imps.mkdir()
    root = str(tmp_path)

    def _w(d, name, rows):
        (d / name).write_text(
            "\n".join(
                json.dumps(
                    {"event_id": e, "user_id": u,
                     "ts": f"2026-01-01 10:{m:02d}:00"}
                )
                for e, u, m in rows
            )
        )

    # drain 1: impressions only (state must be RETAINED for later
    # clicks — that is what distinguishes this from a per-batch join)
    _w(imps, "i1.json", [(100, 1, 0), (101, 1, 30), (102, 2, 5)])
    run_stream_stream_join(
        spark, str(clicks), str(imps), f"{root}/out", f"{root}/ck"
    )
    # drain 2: clicks — u1 at :08 pairs with imp :00 (8 min <= 10);
    # u1 at :45 pairs with imp :30 (15 min > 10 -> no); u2 at :06
    # pairs with imp :05; u3 has no impression
    _w(clicks, "c1.json", [(200, 1, 8), (201, 1, 45), (202, 2, 6),
                           (203, 3, 7)])
    run_stream_stream_join(
        spark, str(clicks), str(imps), f"{root}/out", f"{root}/ck"
    )
    got = sorted(
        (r["click_id"], r["impression_id"])
        for r in spark.read.parquet(f"{root}/out").collect()
    )
    assert got == [(200, 100), (202, 102)]
    # idempotent re-drain: nothing new, nothing duplicated
    run_stream_stream_join(
        spark, str(clicks), str(imps), f"{root}/out", f"{root}/ck"
    )
    assert spark.read.parquet(f"{root}/out").count() == 2


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """The BUILT-IN streaming dedup (dropDuplicatesWithinWatermark) —
    the state-store alternative to streaming_first_seen for the
    at-least-once landing zones: duplicates arriving across
    micro-batches inside the watermark window are dropped, and the
    watermark BOUNDS the dedup state (keys older than it expire — the
    documented contract that makes infinite streams feasible)."""
    import json

    land = tmp_path / "land"
    land.mkdir()
    root = str(tmp_path)

    def _w(name, rows):
        (land / name).write_text(
            "\n".join(
                json.dumps(
                    {"k": k, "ts": f"2026-01-01 10:{m:02d}:00"}
                )
                for k, m in rows
            )
        )

    def _drain():
        (
            spark.readStream.schema("k LONG, ts TIMESTAMP")
            .format("json").load(str(land))
            .withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    _w("b1.json", [(1, 0), (2, 1), (1, 2)])  # in-batch dup of k=1
    _drain()
    # cross-batch dup of k=2 inside the watermark window: dropped
    _w("b2.json", [(2, 5), (3, 6)])
    _drain()
    got = sorted(r["k"] for r in spark.read.parquet(f"{root}/out").collect())
    assert got == [1, 2, 3]


def test_stream_stream_left_outer_join(spark, tmp_path):
    """how='left_outer': the unconverted-impressions feed — an
    impression whose delay window closed with no click emits ONCE
    with NULL click columns, but only after the global watermark
    (min of both sides') proves no match can arrive; matched pairs
    are identical to the inner join and unmatched CLICKS are never
    emitted."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_stream_stream_join,
    )

    clicks = tmp_path / "clicks"
    imps = tmp_path / "imps"
    clicks.mkdir(), imps.mkdir()
    root = str(tmp_path)

    def _w(d, name, rows):
        (d / name).write_text(
            "\n".join(
                json.dumps(
                    {"event_id": e, "user_id": u,
                     "ts": f"2026-01-01 {h:02d}:{m:02d}:00"}
                )
                for e, u, h, m in rows
            )
        )

    def drain():
        run_stream_stream_join(
            spark, str(clicks), str(imps), f"{root}/out", f"{root}/ck",
            how="left_outer",
        )

    # imp 100 (u1 10:00) converts via click 200 (10:08); imp 101
    # (u1 10:30) never converts; click 203 (u3) has no impression
    _w(imps, "i1.json", [(100, 1, 10, 0), (101, 1, 10, 30),
                         (102, 2, 10, 5)])
    drain()
    _w(clicks, "c1.json", [(200, 1, 10, 8), (202, 2, 10, 6),
                           (203, 3, 10, 7)])
    drain()
    got = spark.read.parquet(f"{root}/out")
    pairs = sorted(
        (r["click_id"], r["impression_id"])
        for r in got.filter("click_id IS NOT NULL").collect()
    )
    assert pairs == [(200, 100), (202, 102)]
    # the unmatched impression cannot emit yet: the watermark has not
    # passed the end of its window
    assert got.filter("click_id IS NULL").count() == 0

    # advance BOTH watermarks past 10:30 + 10min delay + 30min wm,
    # then tick once more so the closed window flushes
    _w(imps, "i2.json", [(900, 9, 12, 0)])
    _w(clicks, "c2.json", [(901, 9, 12, 0)])
    drain()
    _w(imps, "i3.json", [(902, 9, 12, 30)])
    _w(clicks, "c3.json", [(903, 9, 12, 30)])
    drain()
    unmatched = {
        r["impression_id"]
        for r in spark.read.parquet(f"{root}/out")
        .filter("click_id IS NULL")
        .collect()
    }
    assert 101 in unmatched
    # matched impressions and matchless clicks never appear unmatched
    assert {100, 102}.isdisjoint(unmatched)
    ids = {
        r["click_id"]
        for r in spark.read.parquet(f"{root}/out").collect()
        if r["click_id"] is not None
    }
    assert 203 not in ids


def test_streaming_cdf_rollup_mode(spark, tmp_path):
    """rollup_mode='cdf' on the streaming ingest: the
    per-parent rollup is maintained from the table's own change feed
    each tick and equals a full recompute after every drain —
    including a re-ingest that REPLACES a parent's chunks (the case
    staged deltas and CDF must agree on)."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    land = tmp_path / "land"
    land.mkdir()
    root = str(tmp_path)

    def _w(name, rows):
        (land / name).write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": t, "source": s})
                for d, t, s in rows
            )
        )

    def drain():
        run_incremental_ingest(
            spark, str(land), f"{root}/chunks", f"{root}/ck",
            rollup_path=f"{root}/rollup", rollup_mode="cdf",
        )

    def recompute():
        import pyspark.sql.functions as F

        return sorted(
            tuple(r)
            for r in read_snapshot_table(spark, f"{root}/chunks")
            .groupBy("parent_id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.length("content").cast("long")).alias("chars"),
            )
            .collect()
        )

    def rollup():
        return sorted(
            tuple(r)
            for r in bm.read_store(spark, f"{root}/rollup", ROLLUP).collect()
        )

    _w("b1.json", [(1, "alpha beta " * 30, "web"),
                   (2, "gamma delta " * 20, "web")])
    drain()
    assert rollup() == recompute()

    # tick 2: doc 1 re-ingested with shorter text, doc 3 added
    _w("b2.json", [(1, "short text", "web"),
                   (3, "epsilon zeta " * 25, "wiki")])
    drain()
    assert rollup() == recompute()


def test_txn_ledger_makes_merge_idempotent(spark, tmp_path):
    """Delta txnAppId/txnVersion on the snapshot sink: a merge whose
    (app, version) is already in the manifest ledger is a no-op (same
    generation back, no new commit); a higher version applies; a
    second app keeps its own ledger entry; and the ledger survives
    unrelated commits in between (manifest carry)."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    t = str(tmp_path / "t")

    def df(items):
        return spark.createDataFrame(items, "k long, v long")

    g1 = S.snapshot_merge_upsert(
        spark, t, df([(1, 10), (2, 20)]), key="k",
        txn_app_id="appA", txn_version=0,
    )
    # re-delivery of batch 0: no-op, same generation
    g2 = S.snapshot_merge_upsert(
        spark, t, df([(1, 999), (3, 30)]), key="k",
        txn_app_id="appA", txn_version=0,
    )
    assert g2 == g1
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == {1: 10, 2: 20}, got
    # next version applies
    g3 = S.snapshot_merge_upsert(
        spark, t, df([(3, 30)]), key="k", txn_app_id="appA", txn_version=1,
    )
    assert g3 == g1 + 1
    # a DIFFERENT app is independent
    g4 = S.snapshot_merge_upsert(
        spark, t, df([(4, 40)]), key="k", txn_app_id="appB", txn_version=0,
    )
    assert g4 == g3 + 1
    # an unrelated non-ledger commit carries both entries forward
    S.snapshot_merge_upsert(spark, t, df([(5, 50)]), key="k")
    cur = S._current_gen(spark, t)
    ledger = S._read_manifest(spark, t, cur).get("txn")
    assert ledger == {"appA": 1, "appB": 0}, ledger
    # both apps' re-deliveries are still no-ops after the carry
    assert S.snapshot_merge_upsert(
        spark, t, df([(9, 90)]), key="k", txn_app_id="appA", txn_version=1,
    ) == cur
    assert S.snapshot_merge_upsert(
        spark, t, df([(9, 90)]), key="k", txn_app_id="appB", txn_version=0,
    ) == cur


def test_stream_into_snapshot_exactly_once(spark, tmp_path):
    """foreachBatch -> snapshot sink: an AvailableNow drain lands the
    stream's rows; a RE-RUN of a crashed micro-batch (the foreachBatch
    function called again with the same batch_id — exactly what Spark
    does when the checkpoint commit was lost) is a no-op: generation
    unchanged, rows unchanged.  A genuinely new batch still applies."""
    import json as _json

    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        stream_into_snapshot,
    )

    land = tmp_path / "land"
    land.mkdir()
    (land / "b1.json").write_text(
        "\n".join(_json.dumps({"k": k, "v": 10 * k}) for k in range(6))
    )
    table = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("k LONG, v LONG")
        .format("json").load(str(land))
    )
    stream_into_snapshot(
        stream, table, ckpt, key="k", app_id="q-test",
    )
    got = {r.k: r.v for r in S.read_snapshot_table(spark, table).collect()}
    assert got == {k: 10 * k for k in range(6)}
    gen_after = S._current_gen(spark, table)

    # crashed-checkpoint replay: Spark re-delivers batch 0 —
    # simulate by re-applying batch 0's merge with the same txn id
    replay = spark.createDataFrame(
        [(k, 10 * k) for k in range(6)], "k long, v long"
    )
    S.snapshot_merge_upsert(
        spark, table, replay, key="k",
        txn_app_id="q-test", txn_version=0,
    )
    assert S._current_gen(spark, table) == gen_after, "double-apply!"
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, table).collect()
    } == got

    # a new file -> next AvailableNow tick -> batch 1 applies once
    (land / "b2.json").write_text(
        _json.dumps({"k": 100, "v": 1000})
    )
    stream2 = (
        spark.readStream.schema("k LONG, v LONG")
        .format("json").load(str(land))
    )
    stream_into_snapshot(
        stream2, table, ckpt, key="k", app_id="q-test",
    )
    got2 = {r.k: r.v for r in S.read_snapshot_table(spark, table).collect()}
    assert got2 == {**got, 100: 1000}


def test_txn_ledger_covers_merge_when_and_delete(spark, tmp_path):
    """The idempotence ledger binds on every write path: a re-delivered
    conditional merge (CDC batch) and a re-delivered tombstone delete
    are both no-ops; the apps share one ledger namespace so versions
    interleave correctly across paths."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    t = str(tmp_path / "t")

    def df(items):
        return spark.createDataFrame(items, "k long, v long")

    S.snapshot_merge_upsert(
        spark, t, df([(1, 10), (2, 20), (3, 30)]), key="k",
        txn_app_id="cdc", txn_version=0,
    )
    # batch 1: conditional merge (upsert where s.v > t.v)
    g1 = S.snapshot_merge_when(
        spark, t, df([(2, 200), (4, 40)]), key="k",
        matched_update="s.v > t.v",
        txn_app_id="cdc", txn_version=1,
    )
    want = {1: 10, 2: 200, 3: 30, 4: 40}
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == want
    # re-delivery of batch 1: no-op even with hostile content
    assert S.snapshot_merge_when(
        spark, t, df([(1, 999)]), key="k", txn_app_id="cdc", txn_version=1,
    ) == g1
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want
    # batch 2: tombstones
    g2 = S.snapshot_delete_keys(
        spark, t, df([(3, 0)]).select("k"), key="k",
        txn_app_id="cdc", txn_version=2,
    )
    want.pop(3)
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want
    # re-delivered tombstone batch: no-op (both modes share the gate)
    assert S.snapshot_delete_keys(
        spark, t, df([(1, 0)]).select("k"), key="k",
        txn_app_id="cdc", txn_version=2, mode="dv",
    ) == g2
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want
    cur = S._current_gen(spark, t)
    assert S._read_manifest(spark, t, cur).get("txn") == {"cdc": 2}


def test_restore_keeps_txn_ledger(spark, tmp_path):
    """RESTORE rewinds data, NOT the idempotence ledger: a re-delivered
    batch is still a no-op after a restore (otherwise every restore
    would re-open the door to double-applies)."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    t = str(tmp_path / "t")

    def df(items):
        return spark.createDataFrame(items, "k long, v long")

    g1 = S.snapshot_merge_upsert(
        spark, t, df([(1, 10)]), key="k", txn_app_id="a", txn_version=0,
    )
    S.snapshot_merge_upsert(
        spark, t, df([(2, 20)]), key="k", txn_app_id="a", txn_version=1,
    )
    S.snapshot_restore(spark, t, g1)
    assert {r.k for r in S.read_snapshot_table(spark, t).collect()} == {1}
    cur = S._current_gen(spark, t)
    assert S._read_manifest(spark, t, cur).get("txn") == {"a": 1}
    # batch 1 re-delivered post-restore: still a no-op
    assert S.snapshot_merge_upsert(
        spark, t, df([(2, 999)]), key="k", txn_app_id="a", txn_version=1,
    ) == cur
    assert {r.k for r in S.read_snapshot_table(spark, t).collect()} == {1}


def test_stream_into_snapshot_cdc_clauses(spark, tmp_path):
    """merge_when_kwargs turns the streaming sink into a CDC apply:
    tombstones delete, updates win by condition, unmatched tombstones
    are no-ops — and a replayed batch is still exactly-once."""
    import json as _json

    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        stream_into_snapshot,
    )

    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t,
        spark.createDataFrame(
            [(1, 10, False), (2, 20, False), (3, 30, False)],
            "k long, v long, tombstone boolean",
        ),
        key="k",
    )
    land = tmp_path / "land"
    land.mkdir()
    (land / "b.json").write_text("\n".join([
        _json.dumps({"k": 2, "v": 200, "tombstone": False}),
        _json.dumps({"k": 3, "v": 0, "tombstone": True}),
        _json.dumps({"k": 4, "v": 40, "tombstone": False}),
        _json.dumps({"k": 9, "v": 0, "tombstone": True}),
    ]))
    stream = (
        spark.readStream.schema("k LONG, v LONG, tombstone BOOLEAN")
        .format("json").load(str(land))
    )
    stream_into_snapshot(
        stream, t, str(tmp_path / "ckpt"), key="k", app_id="cdc-q",
        merge_when_kwargs={
            "matched_delete": "s.tombstone",
            "insert_condition": "NOT s.tombstone",
        },
    )
    want = {1: 10, 2: 200, 4: 40}
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == want
    gen = S._current_gen(spark, t)
    # replay the batch (same txn version): exactly-once
    replay = spark.createDataFrame(
        [(1, 0, True)], "k long, v long, tombstone boolean"
    )
    S.snapshot_merge_when(
        spark, t, replay, key="k",
        matched_delete="s.tombstone", insert_condition="NOT s.tombstone",
        txn_app_id="cdc-q", txn_version=0,
    )
    assert S._current_gen(spark, t) == gen
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want


def test_txn_ledger_covers_overwrite_paths(spark, tmp_path):
    """The idempotence ledger binds on replaceWhere / dynamic partition
    overwrite too: a retried backfill with the same version is a no-op
    instead of swapping the slice twice."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, k % 2, 0) for k in range(8)], "k long, bucket int, v long"
    )
    S.snapshot_merge_upsert(spark, t, base, key="k", partition_cols=["bucket"])
    repl = spark.createDataFrame(
        [(100, 0, 1), (102, 0, 2)], "k long, bucket int, v long"
    )
    g1 = S.snapshot_insert_overwrite_partitions(
        spark, t, repl, partition_cols=["bucket"],
        txn_app_id="backfill", txn_version=7,
    )
    want = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert set(want) == {1, 3, 5, 7, 100, 102}
    # retried backfill, same version, hostile content: no-op
    hostile = spark.createDataFrame(
        [(999, 1, 9)], "k long, bucket int, v long"
    )
    assert S.snapshot_overwrite_where(
        spark, t, hostile, "bucket = 1", partition_cols=["bucket"],
        txn_app_id="backfill", txn_version=7,
    ) == g1
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want
    cur = S._current_gen(spark, t)
    assert S._read_manifest(spark, t, cur).get("txn") == {"backfill": 7}


def test_clone_drops_txn_ledger(spark, tmp_path):
    """Delta's clone rule: application transaction identifiers are NOT
    copied — the clone is a new table, so a batch the SOURCE already
    applied re-applies on the clone (no silent skip), while the source
    keeps its own ledger."""
    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    src, cln = str(tmp_path / "src"), str(tmp_path / "cln")

    def df(items):
        return spark.createDataFrame(items, "k long, v long")

    S.snapshot_merge_upsert(
        spark, src, df([(1, 10)]), key="k", txn_app_id="a", txn_version=0,
    )
    S.snapshot_clone(spark, src, cln)
    cg = S._current_gen(spark, cln)
    assert S._read_manifest(spark, cln, cg).get("txn") is None
    # the same (app, version) APPLIES on the clone...
    S.snapshot_merge_upsert(
        spark, cln, df([(2, 20)]), key="k", txn_app_id="a", txn_version=0,
    )
    assert {
        r.k for r in S.read_snapshot_table(spark, cln).collect()
    } == {1, 2}
    # ...and is still a no-op on the source
    sg = S._current_gen(spark, src)
    assert S.snapshot_merge_upsert(
        spark, src, df([(9, 90)]), key="k", txn_app_id="a", txn_version=0,
    ) == sg
    assert {
        r.k for r in S.read_snapshot_table(spark, src).collect()
    } == {1}


def test_stream_into_snapshot_compaction_trigger(spark, tmp_path):
    """max_generations arms the per-tick fold: after several
    AvailableNow ticks the referenced-generation count stays bounded,
    the txn ledger survives the fold+vacuum (later re-deliveries are
    still no-ops), and content is exact."""
    import json as _json

    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        stream_into_snapshot,
    )

    land = tmp_path / "land"
    land.mkdir()
    t = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    want = {}
    for tick in range(4):
        rows = [(tick * 10 + i, tick) for i in range(3)]
        (land / f"b{tick}.json").write_text(
            "\n".join(_json.dumps({"k": k, "v": v}) for k, v in rows)
        )
        want.update(dict(rows))
        stream = (
            spark.readStream.schema("k LONG, v LONG")
            .format("json").load(str(land))
        )
        stream_into_snapshot(
            stream, t, ckpt, key="k", app_id="compact-q",
            max_generations=1,
        )
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == want
    cur = S._current_gen(spark, t)
    man = S._read_manifest(spark, t, cur)
    assert len(set(man["partitions"].values())) == 1  # folded
    # ledger survived the folds: replay of the last batch is a no-op
    last_v = man["txn"]["compact-q"]
    S.snapshot_merge_upsert(
        spark, t,
        spark.createDataFrame([(0, 999)], "k long, v long"), key="k",
        txn_app_id="compact-q", txn_version=last_v,
    )
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    } == want
