"""BM25 + hybrid RRF retrieval (operators/search): ranking semantics
on hand-checkable corpora.  Cross-engine value parity is q155/q156's
oracle job."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators.search import (
    bm25_topk,
    build_text_index,
    rrf_fuse,
)
from gpt_rag_ingestion_spark.operators.snapshot_table import read_snapshot_table


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id string, terms array<string>")


def test_bm25_ranks_term_matches_above_nonmatches(spark):
    docs = spark.createDataFrame(
        [
            (1, "cat dog cat dog cat"),          # heavy on both terms
            (2, "cat bird fish tree house"),      # one term, once
            (3, "tree house bird fish stone"),    # no query term
            (4, "cat cat cat cat cat cat cat"),   # one term, saturated
        ],
        "doc_id long, text string",
    )
    index = build_text_index(docs)
    out = bm25_topk(index, _queries(spark, [("q", ["cat", "dog"])]), k=10)
    got = [(r["rank"], r["doc"]) for r in out.collect()]
    docs_ranked = [d for _r, d in sorted(got)]
    assert docs_ranked[0] == 1          # both terms, high tf
    assert 3 not in docs_ranked         # no matching term -> no row
    assert set(docs_ranked) == {1, 2, 4}
    # rare term (dog: df=1) outscores common term (cat: df=3) evidence
    assert docs_ranked[1] == 4 or docs_ranked[1] == 2


def test_bm25_length_normalization(spark):
    """Same tf: the SHORTER document ranks first (b > 0)."""
    docs = spark.createDataFrame(
        [
            (1, "cat " + "filler " * 50),
            (2, "cat filler"),
        ],
        "doc_id long, text string",
    )
    index = build_text_index(docs)
    out = bm25_topk(index, _queries(spark, [("q", ["cat"])]), k=2)
    ranked = [r["doc"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert ranked == [2, 1]


def test_rrf_fusion_prefers_agreement(spark):
    """A doc ranked mid by BOTH systems beats a doc ranked top by one
    and absent from the other (the point of RRF)."""
    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        "query_id string, doc long, rank int",
    )
    b = spark.createDataFrame(
        [("q", 20, 1), ("q", 10, 2), ("q", 99, 3)],
        "query_id string, doc long, rank int",
    )
    out = rrf_fuse([a, b], k=4)
    ranked = [r["doc"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    # 10 and 20 appear in both (ranks {1,2}) -> tie on rrf, doc asc
    assert ranked[:2] == [10, 20]
    # 30 and 99 each appear once at rank 3 -> equal, doc asc
    assert ranked[2:] == [30, 99]


def test_bm25_empty_and_unknown_terms(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    index = build_text_index(docs)
    out = bm25_topk(
        index, _queries(spark, [("q", ["zzz", "qqq"])]), k=5
    )
    assert out.count() == 0


def _persisted_queries(spark):
    return _queries(
        spark,
        [("qa", ["cat", "dog"]), ("qb", ["fish", "stone"]),
         ("qc", ["tree", "bird", "cat"])],
    )


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE_ROWS = [
    (1, "cat dog cat dog cat"),
    (2, "cat bird fish tree house"),
    (3, "tree house bird fish stone"),
    (4, "cat cat cat cat cat cat cat"),
    (5, "dog stone dog stone fish"),
]


def _want(spark, rows, k=5):
    from gpt_rag_ingestion_spark.operators.search import build_text_index

    idx = build_text_index(_corpus(spark, rows))
    return sorted(
        tuple(r) for r in bm25_topk(idx, _persisted_queries(spark), k=k).collect()
    )


def test_persisted_text_index_lifecycle(spark, tmp_path):
    """build -> query == in-memory BM25; append (doc replacement) and
    delete (purger tombstones) keep query results equal to a full
    rebuild on the post-change corpus; compaction trigger preserves
    results and restores the steady state."""
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, BASE_ROWS)

    # replace doc 2's text, add doc 6
    changed = [(2, "stone stone stone tree"), (6, "dog fish dog")]
    X.text_index_append(_corpus(spark, changed), path, "b1")
    after = {r[0]: r for r in BASE_ROWS} | {r[0]: r for r in changed}
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, list(after.values()))

    # purge docs 1 and 4
    X.text_index_delete(
        spark, path,
        spark.createDataFrame([(1,), (4,)], "doc_id long"), "p1",
    )
    for d in (1, 4):
        after.pop(d)
    want = _want(spark, list(after.values()))
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want

    # trigger compacts (4 superseded docs vs 4 live: ratio >> 0.2)
    out = X.text_index_maybe_compact(spark, path)
    assert out["compacted"] is True
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want
    assert X.text_index_maybe_compact(spark, path)["compacted"] is False


@pytest.mark.slow
def test_persisted_text_index_append_crash_replay(
    spark, tmp_path, monkeypatch
):
    """Crash after the claim, before the pointer write: the claim is
    released, the gen-stamped orphan dirs stay unlisted, queries see
    the pre-crash state, and the replayed append converges to the
    uncrashed twin byte-for-byte."""
    import pytest as _pytest

    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators import snapshot_table as ST

    path = str(tmp_path / "tindex")
    twin = str(tmp_path / "twin")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    X.text_index_build(_corpus(spark, BASE_ROWS), twin)
    batch = _corpus(spark, [(2, "stone stone stone tree")])

    real = ST._write_text

    def crash(spark_, p, text):
        if p == f"{path}/_current__tmp":
            raise RuntimeError("injected crash before meta commit")
        return real(spark_, p, text)

    monkeypatch.setattr(ST, "_write_text", crash)
    with _pytest.raises(RuntimeError, match="injected"):
        X.text_index_append(batch, path, "b1")
    monkeypatch.setattr(ST, "_write_text", real)

    # pre-crash state visible (the orphan dirs are unlisted)
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, BASE_ROWS)

    # replay, compare against the uncrashed twin
    X.text_index_append(batch, path, "b1")
    X.text_index_append(batch, twin, "b1")
    q = _persisted_queries(spark)
    a = sorted(tuple(r) for r in X.text_index_query(spark, path, q, k=5).collect())
    b = sorted(tuple(r) for r in X.text_index_query(spark, twin, q, k=5).collect())
    assert a == b


@pytest.mark.slow
def test_web_corpus_job_maintains_text_index(spark, tmp_path):
    """run_web_corpus_job(text_index_path=...): the search index stays
    query-consistent with the admitted corpus across batches — the
    reference indexer's corpus+search-index co-upsert."""
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.plans.web_corpus_job import (
        run_web_corpus_job,
    )

    root = str(tmp_path)
    for b in range(2):
        batch = spark.createDataFrame(
            [
                (100 * b + j,
                 f"https://d{j}.example/p{100 * b + j}",
                 f"cat dog page body number {100 * b + j} " * 5)
                for j in range(6)
            ],
            "doc_id long, url string, text string",
        )
        run_web_corpus_job(
            spark, batch, f"{root}/corpus", f"{root}/shards/b{b}",
            min_chars=10, batch_label=f"b{b}",
            text_index_path=f"{root}/tindex",
        )
    corpus = read_snapshot_table(spark, f"{root}/corpus")
    n = corpus.count()
    assert n == 12
    q = _queries(spark, [("q", ["cat", "dog"])])
    got = X.text_index_query(spark, f"{root}/tindex", q, k=50)
    assert got.count() == n  # every admitted doc matches cat+dog
    # equality with a fresh rebuild on the corpus table
    want_idx = str(tmp_path / "rebuild")
    X.text_index_build(corpus.select("doc_id", "text"), want_idx)
    want = sorted(
        tuple(r) for r in X.text_index_query(spark, want_idx, q, k=50).collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want


def test_highlight_snippets_window(spark):
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        highlight_snippets,
    )

    docs = _corpus(
        spark,
        [(1, "x " * 40 + "needle in the haystack " + "y " * 40),
         (2, "needle first word")],
    )
    idx = build_text_index(docs)
    q = _queries(spark, [("q", ["needle"])])
    hits = bm25_topk(idx, q, k=5)
    out = {
        r["doc"]: r
        for r in highlight_snippets(hits, docs, q, snippet_chars=20).collect()
    }
    assert "needle" in out[1]["snippet"]
    assert out[1]["match_pos"] == 81  # after 40 "x " pairs
    assert out[2]["match_pos"] == 1
    assert out[2]["snippet"].startswith("needle")
    assert all(len(r["snippet"]) <= 20 for r in out.values())


def test_phrase_topk_semantics(spark):
    from gpt_rag_ingestion_spark.operators.search import phrase_topk

    docs = _corpus(
        spark,
        [
            (1, "big cat sat big cat sat big cat"),
            (2, "cat big sat"),        # both words, wrong order
            (3, "big dog and a cat"),  # both words, not adjacent
            (4, "big big big"),        # repeated-word phrase fodder
        ],
    )
    phrases = spark.createDataFrame(
        [("pa", ["big", "cat"]), ("pb", ["big", "big"]),
         ("pc", ["sat", "big", "cat"])],
        "phrase_id string, terms array<string>",
    )
    out = phrase_topk(docs, phrases, k=5)
    got = {
        (r["phrase_id"], r["doc"]): (r["rank"], r["phrase_tf"])
        for r in out.collect()
    }
    assert got[("pa", 1)] == (1, 3)      # three adjacent "big cat"
    assert ("pa", 2) not in got          # order matters
    assert ("pa", 3) not in got          # adjacency matters
    assert got[("pb", 4)] == (1, 2)      # "big big big" -> 2 overlapping
    assert ("pb", 1) not in got          # "big cat" never adjacent bigs
    assert got[("pc", 1)] == (1, 2)      # "sat big cat" twice


def test_phrase_topk_matches_bruteforce_on_random_docs(spark):
    """Property check: position-shift phrase matching equals a python
    brute-force overlap count on random word-soup docs."""
    import random

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(40)
    ]
    phrase_sets = [
        ("p0", ["a", "b"]), ("p1", ["b", "b"]), ("p2", ["c", "a", "c"]),
        ("p3", ["d"]),
    ]

    def brute(text, terms):
        ws = text.split()
        m = len(terms)
        return sum(
            1 for b in range(len(ws) - m + 1) if ws[b:b + m] == terms
        )

    want = {}
    for pid, terms in phrase_sets:
        for i, text in rows:
            tf = brute(text, terms)
            if tf > 0:
                want[(pid, i)] = tf

    from gpt_rag_ingestion_spark.operators.search import phrase_topk

    docs = _corpus(spark, rows)
    phrases = spark.createDataFrame(
        phrase_sets, "phrase_id string, terms array<string>"
    )
    got = {
        (r["phrase_id"], r["doc"]): r["phrase_tf"]
        for r in phrase_topk(docs, phrases, k=1000).collect()
    }
    assert got == want


def test_persisted_index_edge_cases(spark, tmp_path):
    """Empty batches, delete-to-empty, unknown-doc deletes, unicode
    tokens — the persisted index degrades gracefully everywhere."""
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "t")
    docs = _corpus(
        spark,
        [(1, "héllo wörld héllo"), (2, "plain ascii words")],
    )
    X.text_index_build(docs, path)
    q = _queries(spark, [("q", ["héllo"]), ("q2", ["missing"])])
    got = X.text_index_query(spark, path, q, k=5).collect()
    assert [(r["query_id"], r["doc"]) for r in got] == [("q", 1)]

    # empty append batch: a no-op generation
    X.text_index_append(_corpus(spark, []), path, "empty")
    assert X.text_index_query(spark, path, q, k=5).count() == 1

    # delete an unknown doc: tombstone lands, counters untouched
    X.text_index_delete(
        spark, path, spark.createDataFrame([(99,)], "doc_id long"), "p0"
    )
    assert X.text_index_query(spark, path, q, k=5).count() == 1

    # delete everything -> empty result set, compaction still sound
    X.text_index_delete(
        spark, path, spark.createDataFrame([(1,), (2,)], "doc_id long"), "p1"
    )
    assert X.text_index_query(spark, path, q, k=5).count() == 0
    X.text_index_compact(spark, path)
    assert X.text_index_query(spark, path, q, k=5).count() == 0


@pytest.mark.slow
def test_compact_crash_leaves_manifest_intact(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 (high), closed STRUCTURALLY in r6: compaction no
    longer swaps directories at all — it writes the compacted batch
    as an unlisted dir and commits by replacing the MANIFEST in one
    atomic meta rename.  Crash compaction at its commit: the old
    manifest (and so every query answer) is fully intact, the debris
    is invisible to readers, and a re-run converges to the steady
    state.  The old swap-ordering hazard class (a crash between the
    postings and doclen swaps double-counting tf/df) cannot exist in
    this design."""
    import pytest as _pytest

    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators import snapshot_table as ST

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    changed = [(2, "stone stone stone tree"), (6, "dog fish dog")]
    X.text_index_append(_corpus(spark, changed), path, "b1")
    after = {r[0]: r for r in BASE_ROWS} | {r[0]: r for r in changed}
    want = _want(spark, list(after.values()))

    real = ST._write_text

    def crash(spark_, p, text):
        if p == f"{path}/_current__tmp":
            raise RuntimeError("injected crash at compact commit")
        return real(spark_, p, text)

    monkeypatch.setattr(ST, "_write_text", crash)
    with _pytest.raises(RuntimeError, match="injected"):
        X.text_index_compact(spark, path)
    monkeypatch.setattr(ST, "_write_text", real)

    # the old manifest still stands: queries equal the pre-crash
    # answers, superseded counters unchanged
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want
    assert int(bm.read_meta(spark, path, X.TEXT_INDEX)["superseded"]) > 0

    # re-running compact converges to the steady state
    X.text_index_compact(spark, path)
    meta = bm.read_meta(spark, path, X.TEXT_INDEX)
    assert int(meta["superseded"]) == 0
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want


@pytest.mark.slow
def test_query_path_never_prunes_inflight_writer_dirs(spark, tmp_path):
    """ADVICE r5 (medium): the query path is READ-ONLY.  Simulate an
    in-flight append (gen-stamped dirs written, meta not yet
    committed): the query must answer from the committed snapshot AND
    leave the writer's directories untouched, so the writer's later
    meta commit references intact data."""
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators.upsert import _fs_exists

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    want = _want(spark, BASE_ROWS)

    # hand-write what text_index_append stages BEFORE its meta commit
    gen = int(bm.read_meta(spark, path, X.TEXT_INDEX)["gen"]) + 1
    pdir = f"{path}/postings/batch=b1__g{gen}"
    ddir = f"{path}/doclen/batch=b1__g{gen}"
    _p, doclen = X._tindex_tables(
        _corpus(spark, [(2, "stone stone stone tree")]), "text", "doc_id", gen,
        pdir,
    )
    doclen.write.mode("overwrite").parquet(ddir)

    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want  # committed snapshot only (gen filter)
    assert _fs_exists(spark, pdir) and _fs_exists(spark, ddir)

    # the writer retries its append (the replay rewrites the same
    # staged dirs and commits them) — converges to the post-append state
    X.text_index_append(
        _corpus(spark, [(2, "stone stone stone tree")]), path, "b1"
    )
    after = {r[0]: r for r in BASE_ROWS} | {2: (2, "stone stone stone tree")}
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, list(after.values()))


def test_text_index_rejects_null_cast_doc_ids(spark, tmp_path):
    """ADVICE r5 (low): non-numeric ids must fail fast, not collapse
    onto doc=NULL."""
    import pytest as _pytest

    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "tindex")
    bad = spark.createDataFrame(
        [("chunk-a", "cat dog"), ("chunk-b", "dog fish")],
        "doc_id string, text string",
    )
    with _pytest.raises(ValueError, match="cast to NULL"):
        X.text_index_build(bad, path)

    ok = _corpus(spark, BASE_ROWS)
    X.text_index_build(ok, path)
    with _pytest.raises(ValueError, match="cast to NULL"):
        X.text_index_append(
            bad, path, "b1"
        )
    with _pytest.raises(ValueError, match="cast to NULL"):
        X.text_index_delete(
            spark, path,
            spark.createDataFrame([("chunk-a",)], "doc_id string"), "p1",
        )


def test_text_index_apply_batches_upsert_and_delete(spark, tmp_path):
    """text_index_apply = append + delete in ONE generation/commit
    (delete-then-upload semantics: a key in both sets keeps its batch
    row).  Equivalence: apply(batch, keys) == append(batch) then
    delete(keys - batch) run on a twin — same query answers, same
    live counters — while consuming ONE generation."""
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "apply")
    twin = str(tmp_path / "twin")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    X.text_index_build(_corpus(spark, BASE_ROWS), twin)

    batch = [(2, "stone stone stone tree"), (6, "dog fish dog")]
    # delete 1 and 2: doc 2 is ALSO in the batch -> its upload wins
    keys = spark.createDataFrame([(1,), (2,)], "doc_id long")

    out = X.text_index_apply(_corpus(spark, batch), keys, path, "b1")
    assert out["gen"] == 1  # one generation for both legs

    X.text_index_append(_corpus(spark, batch), twin, "b1")
    X.text_index_delete(
        spark, twin, spark.createDataFrame([(1,)], "doc_id long"), "p1"
    )

    q = _persisted_queries(spark)
    a = sorted(tuple(r) for r in X.text_index_query(spark, path, q, k=5).collect())
    b = sorted(tuple(r) for r in X.text_index_query(spark, twin, q, k=5).collect())
    assert a == b
    ma, mb = (
        bm.read_meta(spark, p, X.TEXT_INDEX) for p in (path, twin)
    )
    assert (ma["n_live"], ma["l_live"]) == (mb["n_live"], mb["l_live"])
    # compaction converges both to the same steady state
    X.text_index_compact(spark, path)
    X.text_index_compact(spark, twin)
    a = sorted(tuple(r) for r in X.text_index_query(spark, path, q, k=5).collect())
    b = sorted(tuple(r) for r in X.text_index_query(spark, twin, q, k=5).collect())
    assert a == b


def test_fuzzy_expand_terms_finds_lev1_vocab(spark):
    """FastSS deletion-variant expansion == direct levenshtein<=1 join
    (including the original term at distance 0), never a terms x vocab
    cross join."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        fuzzy_expand_terms,
    )

    docs = _corpus(
        spark,
        [(1, "table scan filter"), (2, "tables cat fan"), (3, "scant tab")],
    )
    index = build_text_index(docs)
    q = _queries(spark, [("q", ["tabl", "scan"])])
    got = {
        (r["query_id"], r["token"])
        for r in fuzzy_expand_terms(index, q, max_distance=1).collect()
    }
    # tabl -> table (ins), tab (del); NOT tables (lev 2)
    # scan -> scan (0), scant (ins), fan? (lev 2: s->f + c del) no
    assert got == {
        ("q", "table"), ("q", "tab"), ("q", "scan"), ("q", "scant"),
    }


def test_fuzzy_bm25_retrieves_typo_targets(spark):
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        fuzzy_bm25_topk,
    )

    docs = _corpus(spark, BASE_ROWS)
    index = build_text_index(docs)
    exact = bm25_topk(index, _queries(spark, [("q", ["cat", "dog"])]), k=5)
    fuzzy = fuzzy_bm25_topk(
        index, _queries(spark, [("q", ["catt", "dogg"])]), k=5
    )
    a = sorted((r["rank"], r["doc"]) for r in exact.collect())
    b = sorted((r["rank"], r["doc"]) for r in fuzzy.collect())
    assert a == b  # typo'd query == intended query's ranking


def test_facet_counts_over_hits(spark):
    from gpt_rag_ingestion_spark.operators.search import facet_counts

    hits = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q2", 2, 1)],
        "query_id string, doc long, rank int",
    )
    docs = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", "pdf"), (3, "fr", "web")],
        "doc_id long, lang string, source string",
    )
    got = {
        (r["query_id"], r["facet"], r["value"]): r["n"]
        for r in facet_counts(hits, docs, ["lang", "source"]).collect()
    }
    assert got == {
        ("q1", "lang", "en"): 2,
        ("q1", "source", "web"): 1,
        ("q1", "source", "pdf"): 1,
        ("q2", "lang", "en"): 1,
        ("q2", "source", "pdf"): 1,
    }


def test_multifield_weights_boost_title_hits(spark):
    """A weight-3 title hit must outrank a body-only hit of the same
    shape, and weights (1, 0) must reduce to single-field BM25."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        multifield_bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat news", "filler words only here"),
            (2, "boring title", "cat cat story filler pad"),
            (3, "unrelated", "nothing to see"),
        ],
        "doc_id long, title string, text string",
    )
    q = _queries(spark, [("q", ["cat"])])
    out = multifield_bm25_topk(docs, q, fields=[("title", 3), ("text", 1)], k=3)
    ranked = [r["doc"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert ranked[0] == 1  # title hit x3 beats body tf=2
    assert set(ranked) == {1, 2}

    solo = multifield_bm25_topk(docs, q, fields=[("text", 1)], k=3)
    base = bm25_topk(build_text_index(docs, text_col="text"), q, k=3)
    assert sorted(map(tuple, solo.collect())) == sorted(
        map(tuple, base.collect())
    )


@pytest.mark.slow
def test_text_index_two_writer_claim_conflict(spark, tmp_path, monkeypatch):
    """Concurrent text-index writers are arbitrated by generation
    claims (create-exclusive, the snapshot table's fence): a second
    writer racing for the same generation raises
    TextIndexWriteConflict before touching any batch directory, and a
    claim whose writer died (never swapped the pointer) is pruned by
    the next writer's recovery once its lease is stale instead of
    blocking the gen forever."""
    import os

    import pytest as _pytest

    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators import snapshot_table as ST

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    want = _want(spark, BASE_ROWS)

    # writer B claims the next generation WHILE A is mid-append
    # (after A's recovery — a pre-existing claim would correctly be
    # pruned as crashed — but before A's commit): hook A's delta
    # probe, the step between its dir writes and its claim
    gen = int(bm.read_meta(spark, path, X.TEXT_INDEX)["gen"]) + 1
    real_delta = X._tindex_delta
    state = {"fired": False}

    def delta_with_racer(spark_, idx_path, batch_doclen, meta):
        if not state["fired"]:
            state["fired"] = True
            # writer B wins
            ST._write_text_exclusive(
                spark_, ST._manifest_path(idx_path, gen), "{}"
            )
        return real_delta(spark_, idx_path, batch_doclen, meta)

    monkeypatch.setattr(X, "_tindex_delta", delta_with_racer)
    batch = _corpus(spark, [(2, "stone stone stone tree")])
    with _pytest.raises(X.TextIndexWriteConflict):
        X.text_index_append(batch, path, "a1")
    monkeypatch.setattr(X, "_tindex_delta", real_delta)
    # the conflict left the committed index untouched
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == want

    # B crashed without committing: once its claim is older than the
    # lease, the next writer's recovery prunes it and the append goes
    # through
    old = (ST._now_ms(spark) - ST.CLAIM_LEASE_MS - 60_000) / 1000.0
    os.utime(ST._manifest_path(path, gen), (old, old))
    X.text_index_append(batch, path, "a1")
    after = {r[0]: r for r in BASE_ROWS} | {2: (2, "stone stone stone tree")}
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, path, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, list(after.values()))


@pytest.mark.slow
def test_purge_job_tombstones_text_index(spark, tmp_path):
    """The reference purger deletes vanished parents from the search
    index too (aisearch delete_documents): run_purge_job with
    ``text_index_path`` tombstones the same target key-set, so
    queries stop matching purged docs — and a replay tombstones
    nothing new."""
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        snapshot_merge_upsert,
    )
    from gpt_rag_ingestion_spark.plans.purge_job import run_purge_job

    chunks = _corpus(spark, BASE_ROWS).withColumnRenamed(
        "doc_id", "parent_id"
    )
    table = str(tmp_path / "chunks")
    snapshot_merge_upsert(spark, table, chunks, key="parent_id")
    idx = str(tmp_path / "tindex")
    X.text_index_build(
        _corpus(spark, BASE_ROWS), idx, text_col="text", id_col="doc_id"
    )

    # docs 1 and 4 vanish from the live source
    live = chunks.filter(~F.col("parent_id").isin(1, 4)).select("parent_id")
    out = run_purge_job(
        spark, table, live, key="parent_id", text_index_path=idx
    )
    assert out["parentsPurged"] == 2
    assert out["searchIndexTombstoned"] == 2

    after = {r[0]: r for r in BASE_ROWS if r[0] not in (1, 4)}
    got = sorted(
        tuple(r)
        for r in X.text_index_query(
            spark, idx, _persisted_queries(spark), k=5
        ).collect()
    )
    assert got == _want(spark, list(after.values()))

    # replay: nothing left to purge or tombstone
    out = run_purge_job(
        spark, table, live, key="parent_id", text_index_path=idx
    )
    assert out["parentsPurged"] == 0
    assert out["searchIndexTombstoned"] == 0


@pytest.mark.slow
def test_ingest_job_maintains_chunk_text_index(spark, tmp_path):
    """run_ingest_job(text_index_path=...): the persisted chunk-level
    BM25 index stays query-consistent with the chunks table across
    incremental runs — bootstrap build on run 1, then one
    text_index_apply tick per run (new chunks + tombstones for the
    re-ingested parents' old chunk ids), doc ids = xxhash64(id)
    surrogates."""
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

    table = str(tmp_path / "chunks")
    idx = str(tmp_path / "tindex")

    def listing(rows):
        return spark.createDataFrame(
            rows, "doc_key string, text string, last_modified timestamp"
        )

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    run_ingest_job(
        spark,
        listing([("a", "cat dog cat " * 30, t0), ("b", "fish stone " * 40, t0)]),
        table, "r1", max_tokens=16, overlap=2, min_tokens=2,
        text_index_path=idx,
    )

    def expected():
        return {
            r["chunk_doc"]: None
            for r in read_snapshot_table(spark, table)
            .select(F.xxhash64(F.col("id")).alias("chunk_doc"))
            .collect()
        }

    meta = bm.read_meta(spark, idx, X.TEXT_INDEX)
    assert int(meta["n_live"]) == len(expected())

    # run 2: doc a re-ingested with NEW text (newer ts), doc c added
    run_ingest_job(
        spark,
        listing([
            ("a", "tree bird tree " * 25, t1),
            ("c", "house dog house " * 20, t1),
        ]),
        table, "r2", max_tokens=16, overlap=2, min_tokens=2,
        text_index_path=idx,
    )
    meta = bm.read_meta(spark, idx, X.TEXT_INDEX)
    assert int(meta["n_live"]) == len(expected())

    # the index answers exactly what a fresh build over the merged
    # chunks table answers
    q = spark.createDataFrame(
        [("q1", ["cat", "dog"]), ("q2", ["tree", "house"]),
         ("q3", ["fish"])],
        "query_id string, terms array<string>",
    )
    got = sorted(
        tuple(r) for r in X.text_index_query(spark, idx, q, k=10).collect()
    )
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
    )

    fresh = build_text_index(
        read_snapshot_table(spark, table).select(
            F.xxhash64(F.col("id")).alias("chunk_doc"),
            F.col("content").alias("text"),
        ),
        text_col="text", id_col="chunk_doc",
    )
    want = sorted(tuple(r) for r in bm25_topk(fresh, q, k=10).collect())
    assert got == want
    # doc a's run-1 text was the only "cat" source; its replacement
    # removed it, so q1 ("cat dog") can only match via "dog" docs now
    q1_docs = {r[2] for r in got if r[0] == "q1"}
    a_chunks = {
        r["chunk_doc"]
        for r in read_snapshot_table(spark, table)
        .filter(F.col("parent_id") == "a")
        .select(F.xxhash64(F.col("id")).alias("chunk_doc"))
        .collect()
    }
    assert not (q1_docs & a_chunks)  # a's new text has no cat/dog


def test_more_like_this(spark):
    """MLT: seeds retrieve their near-duplicates first, never
    themselves; hapax terms are dropped; the term cap binds."""
    from gpt_rag_ingestion_spark.operators.search import (
        build_text_index,
        more_like_this,
    )

    rows = [
        (0, "spark join planner makes fast joins fast"),
        (1, "spark join planner makes fast joins faster still"),
        (2, "entirely unrelated text about gardens and tulips"),
        (3, "gardens and tulips and more gardens"),
        (4, "xylophone"),  # hapax-only doc: no terms survive min_df
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_text_index(docs)
    seeds = spark.createDataFrame([(0,), (3,), (4,)], "doc_id long")
    out = more_like_this(index, seeds, k=3, max_query_terms=4)
    got = {
        s: [r["doc"] for r in out.filter(F.col("seed_doc") == s)
            .orderBy("rank").collect()]
        for s in (0, 3, 4)
    }
    assert got[0][0] == 1          # the near-duplicate ranks first
    assert got[3][0] == 2          # garden doc finds the garden doc
    assert 0 not in got[0] and 3 not in got[3]   # seeds excluded
    assert got[4] == []            # hapax-only seed retrieves nothing


def test_filtered_bm25(spark):
    """The filter restricts the RESULT set, never the statistics:
    scores of surviving docs equal the unfiltered run's scores, and
    excluded docs never appear."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        filtered_bm25_topk,
    )

    rows = [
        (0, "spark join fast", "en"),
        (1, "spark join faster", "en"),
        (2, "spark join fastest", "de"),
        (3, "unrelated garden text", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    index = build_text_index(docs)
    qs = spark.createDataFrame(
        [("q0", ["spark", "join"])], "query_id string, terms array<string>"
    )
    plain = {r["doc"]: r["score_q"] for r in bm25_topk(index, qs).collect()}
    filt = filtered_bm25_topk(
        index, qs, doc_meta=docs, predicate="lang = 'en'",
        doc_id_col="doc_id",
    ).collect()
    got = {r["doc"]: r["score_q"] for r in filt}
    assert 2 not in got and set(got) == {0, 1}
    assert all(got[d] == plain[d] for d in got)  # scores unperturbed
    assert [r["rank"] for r in sorted(filt, key=lambda r: r["rank"])] == [1, 2]


def test_semantic_rerank(spark):
    """A doc covering BOTH query terms outranks one stuffing a single
    term, whatever L1 said; docs outside the L1 shortlist never
    appear; L1 rank breaks full ties."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        semantic_rerank,
    )

    rows = [
        (0, "spark " * 50),                 # single-term stuffing
        (1, "spark join"),                  # covers both terms
        (2, "spark join " * 3),             # covers both, higher tf
        (3, "garden tulips only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_text_index(docs)
    qs = spark.createDataFrame(
        [("q0", ["spark", "join"])], "query_id string, terms array<string>"
    )
    l1 = bm25_topk(index, qs, k=3)
    out = semantic_rerank(index, l1, qs, k=3).orderBy("rank").collect()
    order = [r["doc"] for r in out]
    assert order[0] == 2 and order[1] == 1  # coverage beats stuffing
    assert 3 not in order  # outside the L1 shortlist


@pytest.mark.slow
def test_purge_job_tombstones_chunk_surrogate_index(spark, tmp_path):
    """Advisor r6 (medium): the ingest-job-maintained index is keyed
    by xxhash64(chunk id) surrogates, NOT by parent_id — purging with
    the default key-based tombstones would abort on string parents (or
    silently tombstone nothing).  text_index_id_col='id' resolves
    doomed parents to their chunks' surrogate doc ids, so purged
    chunks stop being searchable and survivors still match."""
    from gpt_rag_ingestion_spark.operators import search as X
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
    from gpt_rag_ingestion_spark.plans.purge_job import run_purge_job

    table = str(tmp_path / "chunks")
    idx = str(tmp_path / "tindex")

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    listing = spark.createDataFrame(
        [("a", "cat dog cat " * 30, t0), ("b", "fish stone " * 40, t0),
         ("c", "tree bird tree " * 25, t0)],
        "doc_key string, text string, last_modified timestamp",
    )
    run_ingest_job(
        spark, listing, table, "r1", max_tokens=16, overlap=2,
        min_tokens=2, text_index_path=idx,
    )
    n_a = read_snapshot_table(spark, table).filter("parent_id = 'a'").count()
    assert n_a > 1  # multi-chunk parent: surrogate mapping matters

    # parent 'a' vanishes from the live source
    live = spark.createDataFrame([("b",), ("c",)], "parent_id string")
    out = run_purge_job(
        spark, table, live, key="parent_id",
        text_index_path=idx, text_index_id_col="id",
    )
    assert out["parentsPurged"] == 1
    assert out["searchIndexTombstoned"] == n_a  # every chunk of 'a'

    # the index now answers exactly a fresh build over the survivors
    q = spark.createDataFrame(
        [("q1", ["cat", "dog"]), ("q2", ["fish"]), ("q3", ["tree"])],
        "query_id string, terms array<string>",
    )
    got = sorted(
        tuple(r) for r in X.text_index_query(spark, idx, q, k=10).collect()
    )
    fresh = X.build_text_index(
        read_snapshot_table(spark, table).select(
            F.xxhash64(F.col("id")).alias("chunk_doc"),
            F.col("content").alias("text"),
        ),
        text_col="text", id_col="chunk_doc",
    )
    want = sorted(
        tuple(r) for r in X.bm25_topk(fresh, q, k=10).collect()
    )
    assert got == want
    assert not any(r[0] == "q1" for r in got)  # only 'a' had cat/dog


def test_freshness_boosted_topk(spark):
    """Scoring-profile freshness: a fresh doc overtakes an equally-
    scored stale one; docs past the window keep the bare BM25 rank;
    docs missing from the dates dimension get zero boost."""
    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        freshness_boosted_topk,
    )

    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana cherry"),   # identical text to doc 1
        (3, "apple apple apple banana banana cherry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_text_index(docs)
    q = spark.createDataFrame(
        [("q1", ["apple", "banana"])],
        "query_id string, terms array<string>",
    )
    plain = {r["doc"]: r["rank"] for r in bm25_topk(idx, q, k=3).collect()}
    # doc 1 wins ties over doc 2 on the doc tie-break
    assert plain[1] < plain[2]

    # doc 2 fresh (age 10), doc 1 stale (past window), doc 3 absent
    days = spark.createDataFrame(
        [(1, 9000), (2, 10390)], "doc long, day long"
    )
    boosted = {
        r["doc"]: (r["rank"], r["boosted_q"])
        for r in freshness_boosted_topk(
            idx, q, days, now_day=10400, window_days=365,
            weight_permille=500, k=3,
        ).collect()
    }
    assert boosted[2][0] < boosted[1][0]  # freshness flipped the tie
    # stale + absent docs: boosted_q == 1000 x plain score (zero boost)
    plain_scores = {
        r["doc"]: r["score_q"] for r in bm25_topk(idx, q, k=3).collect()
    }
    assert boosted[1][1] == plain_scores[1] * 1000
    assert boosted[3][1] == plain_scores[3] * 1000
    # fresh doc: boost = 500 * (365 - 10) div 365
    assert boosted[2][1] == plain_scores[2] * (1000 + 500 * 355 // 365)


def test_scoring_profile_topk_composed(spark):
    """The composed scoring profile: magnitude boosts the doc with the
    bigger field value, tag boosts per-query (same doc, different
    rank for different callers), zero functions degrade to bare BM25
    × 1000, and an unknown function type is refused."""
    import pytest

    from gpt_rag_ingestion_spark.operators.search import (
        bm25_topk,
        build_text_index,
        scoring_profile_topk,
    )

    rows = [(1, "apple banana"), (2, "apple banana"), (3, "apple banana")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_text_index(docs)
    q = spark.createDataFrame(
        [("q0", ["apple"]), ("q1", ["apple"])],
        "query_id string, terms array<string>",
    )
    values = spark.createDataFrame(
        [(1, 0), (2, 500), (3, 0)], "doc long, value long"
    )
    doc_tags = spark.createDataFrame(
        [(1, ["red"]), (2, ["blue"]), (3, ["green"])],
        "doc long, tags array<string>",
    )
    query_tags = spark.createDataFrame(
        [("q0", ["red"]), ("q1", ["green"])],
        "query_id string, qtags array<string>",
    )
    out = scoring_profile_topk(
        idx, q,
        functions=[
            {"type": "magnitude", "values": values, "range_min": 0,
             "range_max": 500, "weight_permille": 200},
            {"type": "tag", "doc_tags": doc_tags,
             "query_tags": query_tags, "weight_permille": 500},
        ],
        k=3,
    )
    ranks = {
        (r["query_id"], r["doc"]): r["rank"] for r in out.collect()
    }
    # q0: doc1 (tag 500) > doc2 (magnitude 200) > doc3 (nothing)
    assert ranks[("q0", 1)] == 1 and ranks[("q0", 2)] == 2
    # q1: doc3 (tag) wins instead — per-query personalization
    assert ranks[("q1", 3)] == 1 and ranks[("q1", 2)] == 2

    # zero functions = bare BM25 × 1000
    bare = scoring_profile_topk(idx, q, functions=[], k=3)
    plain = {
        r["doc"]: r["score_q"]
        for r in bm25_topk(idx, q, k=3).filter("query_id = 'q0'").collect()
    }
    for r in bare.filter("query_id = 'q0'").collect():
        assert r["boosted_q"] == plain[r["doc"]] * 1000

    with pytest.raises(ValueError, match="unknown scoring function"):
        scoring_profile_topk(
            idx, q, functions=[{"type": "geo", "weight_permille": 1}]
        ).collect()


# -- the write path's counters against a reference probe -------------------


def _reference_live(spark, index_path, meta):
    """The live (postings, doclen) of a manifest as the index resolved
    them for every write before the write path probed only the batch's
    keys: the latest generation of every doc, from a group-by over the
    whole listed doclen, tombstones dropped.  Kept here as the
    independent derivation the maintained counters are checked
    against."""
    postings = bm.read_batches(
        spark, index_path, "postings", meta["batches"]["postings"],
        "token string, doc long, tf long, gen int",
    )
    doclen = bm.read_batches(
        spark, index_path, "doclen", meta["batches"]["doclen"],
        "doc long, dl long, gen int",
    )
    if int(meta["superseded"]) == 0:
        return postings, doclen.filter(F.col("dl").isNotNull())
    dead = (
        doclen.groupBy("doc")
        .agg(F.max("gen").alias("_max_gen"), F.count(F.lit(1)).alias("_ng"))
        .filter(F.col("_ng") > 1)
        .select("doc", "_max_gen")
    )

    def live(t):
        return (
            t.join(F.broadcast(dead), "doc", "left")
            .filter(
                F.col("_max_gen").isNull() | (F.col("gen") == F.col("_max_gen"))
            )
            .drop("_max_gen")
        )

    return live(postings), live(doclen).filter(F.col("dl").isNotNull())


def _check_against_reference(spark, path):
    """The committed meta's counters and the query answers equal what
    the reference derives from the listed batches alone."""
    from gpt_rag_ingestion_spark.operators import search as X

    meta = bm.read_meta(spark, path, X.TEXT_INDEX)
    postings, doclen = _reference_live(spark, path, meta)
    n, l = (lambda r: (int(r[0]), int(r[1] or 0)))(
        doclen.agg(F.count(F.lit(1)), F.sum("dl")).first()
    )
    listed = bm.read_batches(
        spark, path, "doclen", meta["batches"]["doclen"],
        "doc long, dl long, gen int",
    ).filter(F.col("dl").isNotNull()).count()
    # every non-tombstone row that is not live was superseded once
    assert (meta["n_live"], meta["l_live"], meta["superseded"]) == (
        n, l, listed - n
    )
    index = {
        "postings": postings.select("token", "doc", "tf"),
        "dfreq": postings.groupBy("token").agg(F.count(F.lit(1)).alias("df")),
        "doclen": doclen.select("doc", "dl"),
        "n_docs": n,
        "total_len": l,
    }
    q = _persisted_queries(spark)
    want = sorted(tuple(r) for r in bm25_topk(index, q, k=5).collect())
    got = sorted(
        tuple(r) for r in X.text_index_query(spark, path, q, k=5).collect()
    )
    assert got == want
    return meta


def test_write_path_counters_equal_reference_probe(spark, tmp_path):
    """Build, then applies and deletes covering a key in both sets,
    re-tombstoning a dead doc, a replayed label, an apply after
    compaction and a doc id with two rows (a parent-keyed index over
    chunks): after every commit ``n_live``, ``l_live``, ``superseded``
    and the query answers equal the reference's."""
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "tindex")

    def keys(*ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    # doc 7 has two rows: every counter counts rows, as the reference does
    twice = [(7, "owl owl"), (7, "owl cat")]
    X.text_index_build(_corpus(spark, BASE_ROWS + twice), path)
    assert _check_against_reference(spark, path)["n_live"] == 7
    # doc 2 is in both sets (its upload wins), doc 1 is tombstoned
    batch = [(2, "stone stone stone tree"), (6, "dog fish dog")]
    X.text_index_apply(_corpus(spark, batch), keys(1, 2), path, "b1")
    meta = _check_against_reference(spark, path)
    assert meta["superseded"] == 2
    # doc 1 is already dead: tombstoning it again supersedes nothing;
    # doc 9 was never indexed
    out = X.text_index_delete(spark, path, keys(1, 9), "p1")
    assert out["tombstoned"] == 0
    _check_against_reference(spark, path)
    # both of doc 7's rows go, and two rows come back
    out = X.text_index_delete(spark, path, keys(7), "p2")
    assert out["tombstoned"] == 2
    assert _check_against_reference(spark, path)["superseded"] == 4
    X.text_index_apply(
        _corpus(spark, [(7, "owl"), (7, "owl fish")]), keys(9), path, "b2"
    )
    meta = _check_against_reference(spark, path)
    assert (meta["n_live"], meta["superseded"]) == (7, 4)
    # the replayed label supersedes its own docs; doc 3 goes
    X.text_index_apply(_corpus(spark, batch), keys(3), path, "b1")
    meta = _check_against_reference(spark, path)
    assert meta["superseded"] == 7
    X.text_index_compact(spark, path)
    assert _check_against_reference(spark, path)["superseded"] == 0
    # after compaction: a tombstoned doc comes back, doc 5 goes, and
    # one row replaces doc 7's two
    X.text_index_apply(
        _corpus(spark, [(1, "cat fish"), (4, "bird"), (7, "owl")]),
        keys(5), path, "c1",
    )
    meta = _check_against_reference(spark, path)
    assert (meta["n_live"], meta["superseded"]) == (5, 4)


#: Spark jobs of one ``text_index_apply`` call in the test below,
#: measured at 12: the postings write 2, the doclen write 6, the probe
#: 4.  A probe that groups the whole listed doclen, or a second plan
#: shape for it, shows up here first.
MAX_APPLY_JOBS = 12


def test_text_index_apply_job_count(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    X.text_index_delete(
        spark, path, spark.createDataFrame([(5,)], "doc_id long"), "p0"
    )  # superseded > 0: the probe's plan does not change with it
    batch = _corpus(spark, [(2, "stone stone stone tree"), (6, "dog fish dog")])
    dead = spark.createDataFrame([(1,), (2,)], "doc_id long")
    sc = spark.sparkContext
    group = "text-index-apply-jobs"
    sc.setJobGroup(group, "one text_index_apply", False)
    try:
        X.text_index_apply(batch, dead, path, "b1")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)
    assert len(jobs) <= MAX_APPLY_JOBS, f"text_index_apply ran {len(jobs)} jobs"


#: Spark jobs of one ``text_index_compact`` in the test below: 12 when
#: the two written batches were read back with an inferred schema (one
#: inference job each), 10 with their known schemas.
COMPACT_JOBS = 10


def test_text_index_compact_job_count(spark, tmp_path):
    from gpt_rag_ingestion_spark.operators import search as X

    path = str(tmp_path / "tindex")
    X.text_index_build(_corpus(spark, BASE_ROWS), path)
    X.text_index_apply(
        _corpus(spark, [(2, "stone stone stone tree")]),
        spark.createDataFrame([(5,)], "doc_id long"), path, "b1",
    )  # superseded > 0: compaction resolves liveness
    sc = spark.sparkContext
    group = "text-index-compact-jobs"
    sc.setJobGroup(group, "one text_index_compact", False)
    try:
        X.text_index_compact(spark, path)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)
    assert len(jobs) == COMPACT_JOBS, f"text_index_compact ran {len(jobs)} jobs"
