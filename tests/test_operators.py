"""Operator semantics tests (SURVEY.md §2.2-2.6, §2.10)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators.freshness import (
    freshness_candidates,
    index_watermarks,
)
from gpt_rag_ingestion_spark.operators.purge import purge_orphan_images, purge_targets
from gpt_rag_ingestion_spark.operators.snapshot_table import (
    read_snapshot_table,
    snapshot_merge_upsert,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_freshness_skew_rule(spark):
    """P2: strictly-newer-by-more-than-1s (reference
    sharepoint_ingestion_config.py:111-114)."""
    state = spark.createDataFrame(
        [("a", _ts("2024-01-01T00:00:00"))], ["parent_id", "watermark_ts"]
    )
    src = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01T00:00:00.500")),  # within skew -> drop
            ("a", _ts("2024-01-01T00:00:01.000")),  # exactly 1s -> drop
            ("a", _ts("2024-01-01T00:00:01.000001")),  # just over -> keep
            ("b", _ts("2023-01-01T00:00:00")),  # no watermark -> keep
        ],
        ["parent_id", "last_modified"],
    )
    out = freshness_candidates(src, state).collect()
    kept = sorted((r["parent_id"], r["last_modified"].isoformat()) for r in out)
    assert kept == [
        ("a", "2024-01-01T00:00:01.000001"),
        ("b", "2023-01-01T00:00:00"),
    ]


def test_index_watermarks(spark):
    chunks = spark.createDataFrame(
        [
            ("p1", _ts("2024-01-01T00:00:00")),
            ("p1", _ts("2024-02-01T00:00:00")),
            ("p2", _ts("2024-03-01T00:00:00")),
        ],
        ["parent_id", "metadata_storage_last_modified"],
    )
    wm = {r["parent_id"]: r["watermark_ts"] for r in index_watermarks(chunks).collect()}
    assert wm["p1"] == _ts("2024-02-01T00:00:00")
    assert wm["p2"] == _ts("2024-03-01T00:00:00")


def test_purge_targets(spark):
    index = spark.createDataFrame([("a",), ("b",), ("c",)], ["parent_id"])
    live = spark.createDataFrame([("a",), ("c",)], ["parent_id"])
    out = {r["parent_id"] for r in purge_targets(index, live, "parent_id").collect()}
    assert out == {"b"}


def test_purge_orphan_images(spark):
    chunks = spark.createDataFrame(
        [("c1", ["img1", "img2"]), ("c2", None)], ["id", "relatedImages"]
    )
    listing = spark.createDataFrame([("img1",), ("img2",), ("img3",)], ["url"])
    out = {r["url"] for r in purge_orphan_images(listing, chunks).collect()}
    assert out == {"img3"}


def test_merge_upsert_idempotent(spark, tmp_path):
    """§2.10: delete-then-insert per parent; re-running the same batch is
    a no-op (deterministic keys -> idempotence)."""
    path = str(tmp_path / "chunks")
    b1 = spark.createDataFrame(
        [("p1", 0, "v1"), ("p1", 1, "v1"), ("p2", 0, "v1")],
        ["parent_id", "chunk_id", "payload"],
    )
    snapshot_merge_upsert(spark, path, b1)
    assert read_snapshot_table(spark, path).count() == 3

    # re-run identical batch -> same table
    snapshot_merge_upsert(spark, path, b1)
    assert read_snapshot_table(spark, path).count() == 3

    # p1 re-ingested with fewer chunks -> old p1 rows fully replaced
    b2 = spark.createDataFrame([("p1", 0, "v2")], ["parent_id", "chunk_id", "payload"])
    snapshot_merge_upsert(spark, path, b2)
    rows = read_snapshot_table(spark, path).collect()
    assert len(rows) == 2
    p1 = [r for r in rows if r["parent_id"] == "p1"]
    assert len(p1) == 1 and p1[0]["payload"] == "v2"


def _partition_file_state(root):
    """{relative parquet path: (size, mtime_ns, sha)} for byte-identity checks."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, digest)
    return out


def test_merge_upsert_partition_pruned(spark, tmp_path):
    """Partition-pruned merge: an increment touching 1 of N partitions
    leaves every other partition's files byte-identical (VERDICT round-1
    scale fix — O(increment) rewrite, not O(table))."""
    path = str(tmp_path / "chunks")
    b1 = spark.createDataFrame(
        [
            ("p1", 0, "v1", "blob"),
            ("p2", 0, "v1", "blob"),
            ("p3", 0, "v1", "sharepoint-list"),
            ("p4", 0, "v1", "nl2sql"),
        ],
        ["parent_id", "chunk_id", "payload", "source"],
    )
    snapshot_merge_upsert(spark, path, b1, partition_cols=["source"])
    before = _partition_file_state(path)
    assert any("source=blob" in k for k in before)

    # increment touches only the blob partition
    b2 = spark.createDataFrame(
        [("p1", 0, "v2", "blob"), ("p5", 0, "v1", "blob")],
        ["parent_id", "chunk_id", "payload", "source"],
    )
    snapshot_merge_upsert(spark, path, b2, partition_cols=["source"])
    after = _partition_file_state(path)

    # generations are immutable: every file survives byte-identical,
    # and the new generation holds only the blob partition
    for rel, sig in before.items():
        assert after[rel] == sig, f"committed file rewritten: {rel}"
    new = [rel for rel in after if rel not in before]
    assert new and all("source=blob" in rel for rel in new)
    rows = {
        (r["parent_id"], r["payload"])
        for r in read_snapshot_table(spark, path).collect()
    }
    assert rows == {
        ("p1", "v2"), ("p2", "v1"), ("p3", "v1"), ("p4", "v1"), ("p5", "v1"),
    }

    # a key that MOVES partition is deleted from its old partition
    b3 = spark.createDataFrame(
        [("p3", 0, "v2", "blob")], ["parent_id", "chunk_id", "payload", "source"]
    )
    snapshot_merge_upsert(spark, path, b3, partition_cols=["source"])
    rows = {
        (r["parent_id"], r["payload"], r["source"])
        for r in read_snapshot_table(spark, path).collect()
    }
    assert ("p3", "v2", "blob") in rows
    assert not any(r[0] == "p3" and r[2] == "sharepoint-list" for r in rows)


def test_merge_upsert_recovers_interrupted_swap(spark, tmp_path):
    """A crash inside the pointer swap leaves only ``_current__tmp``;
    the next merge call must roll it forward instead of starting from
    empty."""
    import os

    path = str(tmp_path / "chunks")
    b1 = spark.createDataFrame(
        [("p1", 0, "v1"), ("p2", 0, "v1")], ["parent_id", "chunk_id", "payload"]
    )
    snapshot_merge_upsert(spark, path, b1)
    # simulate the crash window: the live pointer gone, the new one
    # written but never renamed into place
    os.rename(f"{path}/_current", f"{path}/_current__tmp")
    b2 = spark.createDataFrame([("p2", 0, "v2")], ["parent_id", "chunk_id", "payload"])
    snapshot_merge_upsert(spark, path, b2)
    rows = {
        (r["parent_id"], r["payload"])
        for r in read_snapshot_table(spark, path).collect()
    }
    assert rows == {("p1", "v1"), ("p2", "v2")}


def test_union_by_source_discriminator(spark):
    """§2.6: blob + sharepoint pipelines union into one table."""
    blob = spark.createDataFrame([("b1", "blob")], ["id", "source"])
    sp = spark.createDataFrame([("s1", "sharepoint-list")], ["id", "source"])
    out = blob.unionByName(sp)
    assert out.count() == 2
    assert {r["source"] for r in out.collect()} == {"blob", "sharepoint-list"}


def test_sync_actions_all_four(spark):
    import datetime as dt

    from gpt_rag_ingestion_spark.operators.freshness import sync_actions

    def ts(s):
        return dt.datetime.fromisoformat(s)

    src = spark.createDataFrame(
        [
            ("new", ts("2024-01-05T00:00:00")),
            ("newer", ts("2024-01-05T00:00:00")),
            ("same", ts("2024-01-01T00:00:00")),
            ("skewed", ts("2024-01-01T00:00:00.500000")),  # within 1 s skew
        ],
        ["parent_id", "last_modified"],
    )
    wm = spark.createDataFrame(
        [
            ("newer", ts("2024-01-01T00:00:00")),
            ("same", ts("2024-01-01T00:00:00")),
            ("skewed", ts("2024-01-01T00:00:00")),
            ("gone", ts("2024-01-01T00:00:00")),
        ],
        ["parent_id", "watermark_ts"],
    )
    got = {r["parent_id"]: r["action"] for r in sync_actions(src, wm).collect()}
    assert got == {
        "new": "index",
        "newer": "reindex",
        "same": "skip",
        "skewed": "skip",
        "gone": "purge",
    }


def test_k_anonymity_audit_and_suppress(spark):
    """k-anonymity: the audit reports exact group sizes and verdicts;
    suppression drops exactly the under-k groups' rows and is a
    fixpoint (re-auditing the suppressed output passes)."""
    from gpt_rag_ingestion_spark.operators.pii import (
        k_anonymity_audit,
        k_anonymity_suppress,
    )

    rows = (
        [("en", "web", i) for i in range(5)]
        + [("en", "pdf", i) for i in range(2)]
        + [("fr", "web", 0)]
    )
    df = spark.createDataFrame(rows, "lang string, source string, rid int")
    audit = {
        (r["lang"], r["source"]): (r["group_n"], r["meets_k"])
        for r in k_anonymity_audit(df, ["lang", "source"], k=3).collect()
    }
    assert audit[("en", "web")] == (5, True)
    assert audit[("en", "pdf")] == (2, False)
    assert audit[("fr", "web")] == (1, False)

    kept = k_anonymity_suppress(df, ["lang", "source"], k=3)
    assert kept.count() == 5
    assert kept.filter("source = 'pdf' OR lang = 'fr'").count() == 0
    re_audit = k_anonymity_audit(kept, ["lang", "source"], k=3)
    assert re_audit.filter("NOT meets_k").count() == 0


def test_k_anonymity_generalize_ladder(spark):
    """The generalization arm: level 0 (raw city) violates k, level 1
    (state) fixes the big groups, stragglers suppress; the released
    table is k-anonymous at the chosen level and non-QI columns
    survive."""
    from gpt_rag_ingestion_spark.operators.pii import (
        k_anonymity_audit,
        k_anonymity_generalize,
    )

    rows = (
        [(f"r{i}", "springfield", "IL") for i in range(3)]
        + [(f"s{i}", "chicago", "IL") for i in range(3)]
        + [(f"t{i}", "miami", "FL") for i in range(5)]
        + [("lone", "anchorage", "AK")]
    )
    df = spark.createDataFrame(rows, "rid string, city string, st string")
    released, rep = k_anonymity_generalize(
        df, {"region": ["city", "st"]}, k=5
    )
    # level 0: every IL city group has 3 < 5 -> level 1 merges IL to 6
    assert rep["level"] == 1
    assert rep["suppressed_rows"] == 1          # the AK loner
    assert rep["released_rows"] == 11
    audit = k_anonymity_audit(released, ["region"], k=5)
    assert audit.filter("NOT meets_k").count() == 0
    # the RAW quasi-identifier sources (city, st) must NOT ship in the
    # release — with them the frame is not k-anonymous w.r.t. its own
    # columns (advisor r7)
    assert set(released.columns) == {"rid", "region"}
    assert rep["dropped_cols"] == ["city", "st"]

    # an explicit drop list overrides the expression-reference scan
    released2, rep2 = k_anonymity_generalize(
        df, {"region": ["city", "st"]}, k=5, drop=["city", "st", "rid"]
    )
    assert set(released2.columns) == {"region"}


def test_vocab_roundtrip_and_line_dedup(spark):
    """decode(encode(x)) equals whitespace-normalized lowercase x for
    in-vocab text, OOV ids surface as the sentinel; intra-doc line
    dedup keeps first occurrences in order and counts removals."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        dedup_lines_within_doc,
    )
    from gpt_rag_ingestion_spark.operators.vocab import (
        build_vocab,
        decode_with_vocab,
        encode_with_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "a dog and a cat")],
        "doc_id long, text string",
    )
    vocab = build_vocab(docs)
    enc = encode_with_vocab(docs, vocab)
    dec = {r["doc_id"]: r["text"] for r in decode_with_vocab(enc, vocab).collect()}
    assert dec == {1: "the cat sat on the mat", 2: "a dog and a cat"}

    # OOV round-trip: unseen token decodes as the sentinel
    probe = spark.createDataFrame([(9, "the zebra sat")], "doc_id long, text string")
    enc2 = encode_with_vocab(probe, vocab)
    dec2 = decode_with_vocab(enc2, vocab).collect()[0]["text"]
    assert dec2 == "the <unk> sat"

    lined = spark.createDataFrame(
        [(1, "header\nbody one\nheader\nbody two\nheader"),
         (2, "unique\nlines\nonly")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in dedup_lines_within_doc(lined).collect()
    }
    assert out[1] == ("header\nbody one\nbody two", 5, 2)
    assert out[2] == ("unique\nlines\nonly", 3, 0)


def test_strip_boilerplate_lines(spark):
    """Line heuristic: short lines, symbol rows and digit-heavy lines
    drop; long mostly-alpha prose survives in order; counters agree."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        strip_boilerplate,
    )

    body = "\n".join([
        "Home | About | Contact",                              # menu: symbols
        "This is a long enough line of plain english prose to keep around.",
        "=====================================",                # separator
        "(c) 2026 example.com 12345 67890 11111 22222 33333 44444 55555",
        "Another perfectly ordinary sentence that carries actual content.",
        "ok",                                                   # too short
    ])
    df = spark.createDataFrame([(1, body)], "doc_id long, text string")
    got = strip_boilerplate(df, "text").collect()[0]
    assert got["n_lines"] == 6
    assert got["n_kept"] == 2
    kept = got["text"].split("\n")
    assert kept[0].startswith("This is a long enough")
    assert kept[1].startswith("Another perfectly")


def test_scrub_card_numbers_luhn_gate(spark):
    """Only Luhn-valid 16-digit runs are masked: 4532015112830366
    passes (masked), 1234567812345678 fails (left alone)."""
    from gpt_rag_ingestion_spark.operators.pii import scrub_card_numbers

    df = spark.createDataFrame(
        [(1, "pay 4532015112830366 ref 1234567812345678 ok")],
        "doc_id long, text string",
    )
    got = scrub_card_numbers(df, "text").collect()[0]
    assert got["n_card_candidates"] == 2
    assert got["n_luhn_valid"] == 1
    assert "<CARD>" in got["text"]
    assert "4532015112830366" not in got["text"]
    assert "1234567812345678" in got["text"]


def test_scrub_card_numbers_digit_boundaries(spark):
    """r8 advisor: a 17+-digit run whose 16-digit PREFIX passes Luhn
    is NOT a card (no digit boundary) and must survive untouched —
    including when a genuinely valid PAN elsewhere in the text equals
    that prefix.  Candidates are maximal runs of length exactly 16."""
    from gpt_rag_ingestion_spark.operators.pii import scrub_card_numbers

    pan = "4532015112830366"          # Luhn-valid
    long_run = pan + "9"              # 17 digits, prefix = the PAN
    df = spark.createDataFrame(
        [
            (1, f"order {long_run} card {pan} end"),
            (2, f"just an id {long_run} here"),
            (3, "no digits at all"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_card_numbers(df, "text").collect()}
    r1 = rows[1]
    assert r1["n_card_candidates"] == 1 and r1["n_luhn_valid"] == 1
    assert r1["text"] == f"order {long_run} card <CARD> end"
    r2 = rows[2]
    assert r2["n_card_candidates"] == 0 and r2["n_luhn_valid"] == 0
    assert r2["text"] == f"just an id {long_run} here"
    assert rows[3]["text"] == "no digits at all"
    assert rows[4]["text"] is None


def test_dedup_sentences_global_keep_first(spark):
    """Cross-doc sentence dedup keeps only the lowest-(doc, pos)
    occurrence of each sentence; later docs are reassembled without
    it, order preserved."""
    from gpt_rag_ingestion_spark.operators.text_analysis import (
        dedup_sentences_global,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha one. shared line. beta two"),
            (2, "shared line. gamma three"),
            (3, "gamma three. delta four. shared line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_sentences_global(df).collect()}
    assert got[1]["text"] == "alpha one. shared line. beta two"
    assert got[1]["n_sentences"] == 3 and got[1]["n_kept"] == 3
    assert got[2]["text"] == "gamma three"
    assert got[2]["n_sentences"] == 2 and got[2]["n_kept"] == 1
    assert got[3]["text"] == "delta four"
    assert got[3]["n_sentences"] == 3 and got[3]["n_kept"] == 1


def test_systematic_pps_sample_exact_k(spark):
    """PPS-systematic draw: picks sum to exactly k, every pick
    positive, heavier rows drawn proportionally (a row heavier than
    the stride is drawn more than once), zero weight never drawn —
    all integer-exact."""
    from gpt_rag_ingestion_spark.operators.sampling import (
        systematic_pps_sample,
    )

    rows = [(i, (i % 7) * 10) for i in range(1, 201)]  # some zero weights
    df = spark.createDataFrame(rows, "id long, w long")
    k = 37
    got = systematic_pps_sample(df, ["id"], "w", k=k).collect()
    assert sum(r["n_picks"] for r in got) == k
    assert all(r["n_picks"] >= 1 for r in got)
    assert all(r["w"] > 0 for r in got)

    # a dominating weight takes ~its share of the k picks
    df2 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 980)], "id long, w long"
    )
    got2 = {r["id"]: r["n_picks"] for r in
            systematic_pps_sample(df2, ["id"], "w", k=10).collect()}
    assert got2[3] >= 9
    assert sum(got2.values()) == 10

    # deterministic across repartitionings
    again = {(r["id"], r["n_picks"]) for r in systematic_pps_sample(
        df.repartition(16), ["id"], "w", k=k).collect()}
    assert again == {(r["id"], r["n_picks"]) for r in got}


def test_quality_check_rules_all_kinds(spark):
    """DLT-style expectations: row rules (NULL = violation), unique
    rules (NULL keys never violate), and FK rules (NULL child keys
    ignored) all report exact violation counts in one report."""
    from gpt_rag_ingestion_spark.operators.quality import check_rules

    df = spark.createDataFrame(
        [
            (1, 10, "a"), (2, -5, "b"), (3, None, "a"),
            (4, 7, None), (4, 8, "z"), (None, 9, "a"),
        ],
        "id long, v long, cat string",
    )
    parent = spark.createDataFrame(
        [("a",), ("b",)], "cat string"
    )
    rep = {
        r.rule: (r.kind, r.n_violations, r.n_rows)
        for r in check_rules(
            df,
            row_rules={
                "v_positive": "v > 0",          # -5 and NULL violate
                "id_not_null": "id IS NOT NULL",
            },
            unique_rules={"id_unique": ["id"]},  # 4 duplicated once
            fk_rules={"cat_in_parent": (parent, ["cat"], ["cat"])},
        ).collect()
    }
    assert rep["v_positive"] == ("row", 2, 6)
    assert rep["id_not_null"] == ("row", 1, 6)
    assert rep["id_unique"] == ("unique", 1, 6)
    # 'z' is an orphan; the NULL cat row is ignored
    assert rep["cat_in_parent"] == ("fk", 1, 6)


def test_quality_split_quarantine(spark):
    """expect-or-drop: failing rows route to quarantine with the
    sorted violated-rule names; passing rows come out clean."""
    from gpt_rag_ingestion_spark.operators.quality import split_quarantine

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, None), (4, 200)],
        "id long, v long",
    )
    ok, bad = split_quarantine(
        df, {"v_positive": "v > 0", "v_small": "v < 100"}
    )
    assert sorted(r.id for r in ok.collect()) == [1]
    got = {r.id: r.violated_rules for r in bad.collect()}
    assert got == {
        2: "v_positive",
        3: "v_positive,v_small",
        4: "v_small",
    }, got


def test_quality_check_rules_is_lazy(spark):
    """r9 advisor (low): check_rules must run NO driver-side action at
    call time — the report is one lazy plan (fk/unique violation
    counts fold into lazy aggregates).  Asserted via a dedicated job
    group: building the report schedules zero Spark jobs."""
    from gpt_rag_ingestion_spark.operators.quality import check_rules

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, -5, "b"), (2, 8, "z"), (None, 9, "a")],
        "id long, v long, cat string",
    )
    parent = spark.createDataFrame([("a",), ("b",)], "cat string")
    sc = spark.sparkContext
    group = "quality-lazy-probe"
    sc.setJobGroup(group, "check_rules must not run jobs", False)
    try:
        rep = check_rules(
            df,
            row_rules={"v_positive": "v > 0"},
            unique_rules={"id_unique": ["id"]},
            fk_rules={"cat_fk": (parent, ["cat"], ["cat"])},
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs == [], (
            f"check_rules ran {len(jobs)} eager job(s) at call time"
        )
    finally:
        sc.setJobGroup("", "", False)
    got = {r.rule: (r.kind, r.n_violations, r.n_rows) for r in rep.collect()}
    assert got["v_positive"] == ("row", 1, 4)
    assert got["id_unique"] == ("unique", 1, 4)
    assert got["cat_fk"] == ("fk", 1, 4)
