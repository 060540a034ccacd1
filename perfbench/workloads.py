"""The benchmark's workloads, their output checks and their per-layer
figures.

Each workload is one closed-loop client driving the package's public
functions on one SparkSession from ``session.get_spark()``:

- ``bulk_ingest``: ``run_ingest_job`` into an empty snapshot table, at
  the job's default chunk parameters, repeated into fresh tables.
- ``refresh``: ticks that change ~1% and add ~0.2% of the documents,
  each followed by ``run_ingest_job`` over the full listing.
- ``retrieve``: requests rotating BM25 ``text_index_query``, IVF
  ``ivf_index_query`` and ``snapshot_read_point`` over a table and
  index that carry several generations.

Every timed call goes through ``Tracer.call``; with tracing on, the
same calls also yield the per-layer table.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from gen import Corpus, CorpusSpec, parent_id
from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents
from gpt_rag_ingestion_spark.chunking.splitter import (
    split_text_recursive,
    token_spans_batch,
)
from gpt_rag_ingestion_spark.embeddings import embed_batch_np
from gpt_rag_ingestion_spark.functions.keys import sanitize_key
from gpt_rag_ingestion_spark.operators.search import (
    bm25_topk,
    build_text_index,
    text_index_query,
)
from gpt_rag_ingestion_spark.operators.similarity import (
    ivf_index_build,
    ivf_index_query,
)
from gpt_rag_ingestion_spark.operators.snapshot_table import (
    read_snapshot_table,
    snapshot_read_point,
)
from gpt_rag_ingestion_spark.operators.tracing import SpanRecorder
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

SPEC = CorpusSpec()
#: the job's defaults (max_tokens 2048, overlap 200, min_tokens 100,
#: 64-dim embeddings) plus a snapshot sink with bloom-filtered
#: parent_id statistics, which the point lookups read
INGEST_KW = dict(sink="snapshot", stats_cols=["parent_id"], bloom_key="parent_id")
CHUNK_KW = dict(embedding_dim=64, max_tokens=2048, overlap=200, min_tokens=100)
BM25_QUERIES, BM25_TERMS, IVF_QUERIES, K = 4, 3, 4, 10
RETRIEVE_TICKS = 1
#: refresh ticks per run: later ticks get cheaper as the JVM warms up,
#: so every run times the same sequence
REFRESH_TICKS = 3


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def chunk_digest(df) -> tuple[str, int]:
    """sha256 over the sorted (id, xxhash64(content, contentVector))
    pairs of a chunk frame."""
    rows = sorted(
        (r[0], r[1])
        for r in df.select(
            "id", F.xxhash64("content", "contentVector").alias("h")
        ).collect()
    )
    h = hashlib.sha256()
    for cid, hv in rows:
        h.update(f"{cid}\x00{hv}\n".encode())
    return h.hexdigest(), len(rows)


class Run:
    """State of one benchmark run: session, tracer, work directory,
    timed operations, failures and the figures it reports."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        #: top-level spans of the timed operations
        self.ops: list = []
        self.attempted = self.failed = 0
        self.setup_parts: dict[str, float] = {}
        #: the workload's named end-to-end figures: name -> (value, unit)
        self.figures: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.ingest_spans: list = []  # (span, changed keys) feeding ingest_job.*
        self.notes: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    # -- calls into the package -------------------------------------

    def ingest(self, listing: str, table: str, index: str, run_id: str,
               kind: str, changed: list[str] | None = None):
        tr = self.tracer
        rec = SpanRecorder(run_id) if tr.enabled else None
        before = (_dir_mb(table), _dir_mb(index)) if tr.enabled else None
        with tr.call("run_ingest_job", kind, run=run_id) as span:
            row = run_ingest_job(
                self.spark, self.spark.read.parquet(listing), table, run_id,
                text_index_path=index, recorder=rec, **INGEST_KW, **CHUNK_KW,
            ).collect()[0]
        tr.add_recorder(span, rec)
        span.attrs.update(
            sourceFiles=int(row["sourceFiles"]), failed=int(row["failed"]),
            chunks=int(row["totalChunksUploaded"]),
        )
        if before is not None:
            span.attrs["table_mb_written"] = _dir_mb(table) - before[0]
            span.attrs["index_mb_written"] = _dir_mb(index) - before[1]
            span.attrs["changed_chunk_mb"] = self._chunk_mb(table, changed)
            span.attrs["changed"] = len(changed) if changed is not None else 0
        return span, row

    def _chunk_mb(self, table: str, changed: list[str] | None) -> float:
        """Bytes of the committed chunk rows of the changed parents
        (all parents when ``changed`` is None)."""
        t = read_snapshot_table(self.spark, table)
        if changed is not None:
            keys = self.spark.createDataFrame(
                [(parent_id(k),) for k in changed], "parent_id string"
            )
            t = t.join(F.broadcast(keys), "parent_id", "left_semi")
        got = t.agg(
            F.sum(
                F.octet_length("content") + F.octet_length("id")
                + F.octet_length("parent_id") + 4 * F.size("contentVector")
            ).alias("b")
        ).first()["b"]
        return (got or 0) / 1e6

    def timed_setup(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + (
            time.perf_counter() - t0
        )
        return out

    def generate(self, listing: str) -> Corpus:
        def make():
            corpus = Corpus(SPEC, self.seed)
            corpus.write_listing(listing)
            return corpus

        corpus = self.timed_setup("generate", make)
        self.figures["corpus_mb"] = (corpus.text_mb, "MB")
        self.figures["corpus_docs"] = (len(corpus.keys), "count")
        return corpus

    def expected_digest(self, listing: str) -> tuple[str, int]:
        """Digest of what ``chunk_documents`` yields for a listing: the
        rows a from-scratch ingest of it commits."""
        docs = self.spark.read.parquet(listing)
        return chunk_digest(chunk_documents(
            docs.withColumn("parent_id", sanitize_key(F.col("doc_key"))),
            text_col="text", doc_key_col="parent_id", source_col=None,
            **CHUNK_KW,
        ))

    # -- retrieval requests -------------------------------------------

    def bm25(self, index: str, terms: list[list[str]], kind: str):
        q = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(terms)],
            "query_id long, terms array<string>",
        )
        with self.tracer.call("text_index_query", kind) as span:
            rows = text_index_query(self.spark, index, q, k=K).collect()
        return span, sorted(
            (r["query_id"], r["rank"], r["doc"], r["score_q"]) for r in rows
        )

    def ivf(self, ivf_path: str, qids, qvecs, kind: str):
        q = self.spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(qids, qvecs)],
            "vec_id long, embedding array<float>",
        )
        with self.tracer.call("ivf_index_query", kind) as span:
            rows = ivf_index_query(self.spark, ivf_path, q, k=K).collect()
        return span, rows

    def point(self, table: str, pid: str, kind: str):
        with self.tracer.call("snapshot_read_point", kind) as span:
            rows = snapshot_read_point(
                self.spark, table, "parent_id", [pid]
            ).collect()
        return span, sorted(r["id"] for r in rows)

    def ivf_build(self, table: str, ivf_path: str, kind: str):
        vecs = read_snapshot_table(self.spark, table).select(
            F.xxhash64("id").alias("vec_id"),
            F.col("contentVector").alias("embedding"),
        )
        with self.tracer.call("ivf_index_build", kind) as span:
            ivf_index_build(vecs, ivf_path)
        return span


class Retrieval:
    """Live-table snapshot the retrieval requests are checked against:
    chunk ids per parent, chunk vectors, and the exact cosine top-k."""

    def __init__(self, run: Run, table: str, corpus: Corpus):
        pdf = (
            read_snapshot_table(run.spark, table)
            .select(
                "parent_id", "id", F.xxhash64("id").alias("vec_id"),
                "contentVector",
            )
            .toPandas()
            .sort_values("vec_id", kind="stable")
        )
        self.by_parent: dict[str, list[str]] = {}
        for p, cid in zip(pdf["parent_id"], pdf["id"]):
            self.by_parent.setdefault(p, []).append(cid)
        for v in self.by_parent.values():
            v.sort()
        self.vec_ids = pdf["vec_id"].to_numpy()
        self.vecs = np.vstack(pdf["contentVector"].to_numpy()).astype(np.float32)
        unit = self.vecs.astype(np.float64)
        self.unit = unit / np.maximum(np.linalg.norm(unit, axis=1)[:, None], 1e-12)
        self.parents = sorted(self.by_parent)
        self.rng = np.random.default_rng([run.seed, 7])
        self.corpus = corpus
        self.recall: list[float] = []

    def ivf_queries(self):
        pick = self.rng.choice(len(self.vec_ids), IVF_QUERIES, replace=False)
        return self.vec_ids[pick], self.vecs[pick], pick

    def point_parent(self) -> str:
        return self.parents[int(self.rng.integers(len(self.parents)))]

    def check_ivf(self, rows, qids, pick) -> bool:
        """Every query gets K neighbours (itself excluded, as the index
        masks self-pairs) whose cosines match the exact ones; recall
        against the exact top-K is recorded."""
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(r)
        ok = True
        idx_of = {int(v): i for i, v in enumerate(self.vec_ids)}
        for qid, qi in zip(qids.tolist(), pick.tolist()):
            hits = sorted(got.get(qid, []), key=lambda r: r["rank"])
            sims = self.unit @ self.unit[qi]
            sims[qi] = -np.inf
            order = np.lexsort((self.vec_ids, -sims))[:K]
            exact = set(self.vec_ids[order].tolist())
            self.recall.append(
                len(exact & {int(r["corpus_id"]) for r in hits}) / K
            )
            if [r["rank"] for r in hits] != list(range(1, K + 1)):
                ok = False
                continue
            for r in hits:
                j = idx_of.get(int(r["corpus_id"]))
                if j is None or j == qi or abs(sims[j] - r["cosine"]) > 1e-6:
                    ok = False
        return ok


def bm25_reference(run: Run, table: str, batches: list[list[list[str]]]):
    """``bm25_topk`` over the live chunks for every BM25 batch at once
    (query ids offset per batch)."""
    live = read_snapshot_table(run.spark, table).select(
        F.xxhash64("id").alias("doc_id"), F.col("content").alias("text")
    )
    index = build_text_index(live, text_col="text", id_col="doc_id")
    rows = [
        (b * BM25_QUERIES + i, t)
        for b, terms in enumerate(batches)
        for i, t in enumerate(terms)
    ]
    q = run.spark.createDataFrame(rows, "query_id long, terms array<string>")
    out: dict[int, list] = {}
    for r in bm25_topk(index, q, k=K).collect():
        b, i = divmod(int(r["query_id"]), BM25_QUERIES)
        out.setdefault(b, []).append((i, r["rank"], r["doc"], r["score_q"]))
    return {b: sorted(v) for b, v in out.items()}


def rotate_requests(run: Run, table: str, index: str, ivf_path: str,
                    ret: Retrieval, kind_prefix: str, min_rounds: int,
                    seconds: float):
    """Closed loop over BM25 / IVF / point requests.  Returns the
    per-request results for checking after the loop."""
    results = []
    t_end = time.perf_counter() + seconds
    rounds = 0
    while rounds < min_rounds or time.perf_counter() < t_end:
        for kind in ("bm25", "ivf", "point"):
            if kind == "bm25":
                terms = ret.corpus.query_terms(BM25_QUERIES, BM25_TERMS)
                span, got = run.bm25(index, terms, f"{kind_prefix}_bm25")
                results.append((kind, span, terms, got))
            elif kind == "ivf":
                qids, qvecs, pick = ret.ivf_queries()
                span, got = run.ivf(ivf_path, qids, qvecs, f"{kind_prefix}_ivf")
                results.append((kind, span, (qids, pick), got))
            else:
                pid = ret.point_parent()
                span, got = run.point(table, pid, f"{kind_prefix}_point")
                results.append((kind, span, pid, got))
        rounds += 1
    return results


def check_requests(run: Run, table: str, ret: Retrieval, results) -> None:
    """Count every request; a wrong answer counts as failed."""
    bm25_batches = [r[2] for r in results if r[0] == "bm25"]
    ref = bm25_reference(run, table, bm25_batches)
    b = 0
    for kind, _span, arg, got in results:
        run.attempted += 1
        if kind == "bm25":
            if got != ref.get(b, []):
                run.fail(f"bm25 batch {b} differs from bm25_topk")
            b += 1
        elif kind == "ivf":
            qids, pick = arg
            if not ret.check_ivf(got, qids, pick):
                run.fail("ivf result malformed or mis-scored")
        elif got != ret.by_parent.get(arg, []):
            run.fail(f"point lookup {arg} returned wrong chunks")


# -- workloads -----------------------------------------------------------


def bulk_ingest(run: Run) -> None:
    """One ingest call into an empty table, first in the session, as a
    batch ingest job runs: worker start-up and JIT warm-up are part of
    what it costs."""
    listing = run.path("listing.parquet")
    corpus = run.generate(listing)
    table, index = run.path("t0"), run.path("i0")
    span, _row = run.ingest(listing, table, index, "bulk", "op_ingest")
    run.ops.append(span)
    run.ingest_spans.append((span, corpus.keys))

    expected = run.expected_digest(listing)
    run.attempted += 1
    if chunk_digest(read_snapshot_table(run.spark, table)) != expected:
        run.fail("committed chunks differ from chunk_documents")
    run.figures["ingest_mb_per_s"] = (corpus.text_mb / span.dur, "MB/s")
    run.figures["chunks"] = (expected[1], "count")
    probe_reads(run, table, index, corpus)


def _base(run: Run):
    """Generated corpus ingested into an empty table and text index."""
    listing = run.path("listing.parquet")
    corpus = run.generate(listing)
    table, index = run.path("table"), run.path("index")
    run.timed_setup("base_ingest", lambda: run.ingest(
        listing, table, index, "base", "setup_ingest"
    ))
    return corpus, table, index


def refresh(run: Run) -> None:
    corpus, table, index = _base(run)
    t_end = time.perf_counter() + run.seconds
    listing = None
    while corpus.n_ticks < REFRESH_TICKS or time.perf_counter() < t_end:
        changed = corpus.tick()
        listing = run.path(f"tick{corpus.n_ticks}.parquet")
        corpus.write_listing(listing)
        span, row = run.ingest(
            listing, table, index, f"tick{corpus.n_ticks}", "op_ingest", changed
        )
        run.ops.append(span)
        run.ingest_spans.append((span, changed))
        run.attempted += 1
        # every changed or added document must be a freshness candidate
        if row["failed"] != 0 or row["sourceFiles"] < len(changed):
            run.fail(f"tick {corpus.n_ticks}: summary {row.asDict()}")

    # idempotence contract: the ticked table equals a from-scratch
    # ingest of the final listing (what chunk_documents yields for it,
    # which bulk_ingest checks a from-scratch ingest against)
    run.attempted += 1
    if chunk_digest(read_snapshot_table(run.spark, table)) != run.expected_digest(listing):
        run.fail("ticked table differs from a from-scratch ingest")
    run.figures["tick_p50_s"] = (statistics.median(s.dur for s in run.ops), "s")
    run.figures["ticks"] = (corpus.n_ticks, "count")
    probe_reads(run, table, index, corpus)


def retrieve(run: Run) -> None:
    corpus, table, index = _base(run)
    for _ in range(RETRIEVE_TICKS):
        changed = corpus.tick()
        listing = run.path(f"tick{corpus.n_ticks}.parquet")
        corpus.write_listing(listing)
        span, _row = run.timed_setup("ticks", lambda: run.ingest(
            listing, table, index, f"tick{corpus.n_ticks}", "setup_ingest",
            changed,
        ))
        run.ingest_spans.append((span, changed))
    ivf_path = run.path("ivf")
    span = run.timed_setup(
        "ivf_build", lambda: run.ivf_build(table, ivf_path, "setup_ivf_build")
    )
    run.layer["similarity.ivf_build_s"] = span.dur
    ret = Retrieval(run, table, corpus)
    # one untimed round so first-query compilation is set-up, not latency
    warm = run.timed_setup("warm_up", lambda: rotate_requests(
        run, table, index, ivf_path, ret, "setup", 1, 0.0
    ))
    results = rotate_requests(
        run, table, index, ivf_path, ret, "op", 1, run.seconds
    )
    for _kind, span, _arg, _got in results:
        run.ops.append(span)
    check_requests(run, table, ret, warm + results)
    lat = [s.dur for s in run.ops]
    run.figures["query_p50_s"] = (statistics.median(lat), "s")
    run.figures["queries"] = (len(lat), "count")
    run.figures["ivf_recall_at_10"] = (float(np.mean(ret.recall)), "ratio")
    _read_layers(run, results, ret)


def probe_reads(run: Run, table: str, index: str, corpus: Corpus) -> None:
    """Traced runs of the ingest workloads also time one IVF build and
    one round of requests, so every read-path layer has a figure."""
    if not run.tracer.enabled:
        return
    ivf_path = run.path("probe_ivf")
    span = run.ivf_build(table, ivf_path, "probe_ivf_build")
    run.layer["similarity.ivf_build_s"] = span.dur
    ret = Retrieval(run, table, corpus)
    results = rotate_requests(run, table, index, ivf_path, ret, "probe", 1, 0.0)
    check_requests(run, table, ret, results)
    _read_layers(run, results, ret)


def _read_layers(run: Run, results, ret: Retrieval) -> None:
    by = {"bm25": [], "ivf": [], "point": []}
    for kind, span, _a, _g in results:
        by[kind].append(span.dur)
    run.layer["search.bm25_p50_s"] = statistics.median(by["bm25"])
    run.layer["similarity.ivf_p50_s"] = statistics.median(by["ivf"])
    run.layer["snapshot.point_p50_s"] = statistics.median(by["point"])
    run.layer["similarity.ivf_recall_at_10"] = float(np.mean(ret.recall))


WORKLOADS = {"bulk_ingest": bulk_ingest, "refresh": refresh, "retrieve": retrieve}


# -- per-layer figures (traced runs) -------------------------------------


def kernel_layers(run: Run, corpus_texts: list[str]) -> None:
    """Direct calls into the splitter and the embedder over the
    generated documents, at the job's chunk parameters."""
    tr = run.tracer
    mb = sum(len(t.encode("utf-8")) for t in corpus_texts) / 1e6
    with tr.call("token_spans_batch+split_text_recursive", "kernel") as span:
        spans = token_spans_batch(corpus_texts)
        chunks = [
            split_text_recursive(
                t, max_tokens=CHUNK_KW["max_tokens"],
                overlap_tokens=CHUNK_KW["overlap"],
                min_tokens=CHUNK_KW["min_tokens"], _spans=s,
            )
            for t, s in zip(corpus_texts, spans)
        ]
    run.layer["splitter.s_per_mb"] = span.dur / mb
    run.layer["splitter.fast_path_frac"] = sum(
        s is not None for s in spans
    ) / len(spans)
    run.layer["splitter.zero_chunk_docs"] = sum(not c for c in chunks)
    contents = [c["content"] for doc in chunks for c in doc]
    cmb = sum(len(c.encode("utf-8")) for c in contents) / 1e6
    with tr.call("embed_batch_np", "kernel") as span:
        embed_batch_np(contents, CHUNK_KW["embedding_dim"])
    run.layer["embeddings.s_per_mb"] = span.dur / cmb


def engine_layers(run: Run, table: str, index: str) -> None:
    tr = run.tracer
    selfs = tr.self_times()
    # ingest_job phases, from the job's own SpanRecorder
    phases = {"scan_freshness": [], "chunk_embed": [], "search_index": [],
              "merge": [], "other": []}
    cand, changed, t_mb, i_mb, c_mb = [], [], [], [], []
    for span, keys in run.ingest_spans:
        kids = [s for s in tr.spans if s.parent == span.sid]
        for name in phases:
            if name != "other":
                phases[name].append(sum(s.dur for s in kids if s.name == name))
        phases["other"].append(selfs[span.sid])
        cand.append(span.attrs["sourceFiles"])
        changed.append(len(keys))
        t_mb.append(span.attrs["table_mb_written"])
        i_mb.append(span.attrs["index_mb_written"])
        c_mb.append(span.attrs["changed_chunk_mb"])
    for name, vals in phases.items():
        run.layer[f"ingest_job.{name}_s"] = float(np.mean(vals))
    run.layer["freshness.candidates"] = float(np.mean(cand))
    run.layer["freshness.changed"] = float(np.mean(changed))
    run.layer["freshness.useful_ratio"] = sum(changed) / max(sum(cand), 1)
    run.layer["snapshot.mb_written"] = float(np.mean(t_mb))
    run.layer["snapshot.write_amp"] = sum(t_mb) / max(sum(c_mb), 1e-9)
    run.layer["snapshot.live_files"] = len(
        read_snapshot_table(run.spark, table).inputFiles()
    )
    run.layer["search.mb_written"] = float(np.mean(i_mb))
    with open(os.path.join(index, "meta")) as f:
        run.layer["search.live_batches"] = len(
            json.load(f)["batches"]["postings"]
        )
    # Spark engine, Python workers and driver: per timed operation
    ops = [s for s in tr.spans if s.parent is None and s.kind.startswith("op_")]
    for s in tr.spans:
        if s.engine:
            run.attempted += 1
            if s.engine["py_run_s"] > s.engine["run_s"] + 0.05:
                run.fail(f"span {s.sid}: Python run time exceeds task run time")
    eng = [s.engine for s in ops]

    def mean(key):
        return float(np.mean([e[key] for e in eng]))

    for key in ("jobs", "tasks"):
        run.layer[f"spark.{key}"] = mean(key)
    run.layer["spark.executor_run_s"] = mean("run_s")
    run.layer["spark.executor_cpu_s"] = mean("cpu_s")
    run.layer["spark.gc_s"] = mean("gc_s")
    run.layer["spark.shuffle_mb"] = mean("shuffle_mb")
    run.layer["spark.spill_mb"] = mean("spill_mb")
    run.layer["python.worker_start_s"] = mean("py_start_s")
    run.layer["python.run_s"] = mean("py_run_s")
    run.layer["python.arrow_mb_in"] = mean("arrow_mb_in")
    run.layer["python.arrow_mb_out"] = mean("arrow_mb_out")
    run.layer["driver.idle_s"] = float(np.mean(
        [s.dur - s.engine["job_cover_s"] for s in ops]
    ))
    run.layer["trace.op_wall_s"] = statistics.fmean(s.dur for s in ops)
    run.layer["trace.bookkeeping_s"] = tr.bookkeeping_s
