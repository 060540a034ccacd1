"""Round-11 lakehouse hardening tests.

Covers, in order:
- txn-ledger RETENTION (Delta setTransactionRetentionDuration analog,
  r10 verdict #1): one-shot app ids stop bloating every later
  manifest; an expired app's re-delivery is NOT idempotent anymore
  (Delta's documented caveat) and that is pinned here as a contract,
  not an accident.
- the pinned-generation fix for the OCC-sensitive reads (r10 advisor,
  medium): the ledger / identity high-water / expected_cur all derive
  from ONE generation read, so a rival landing mid-attempt surfaces as
  a commit conflict and the retry preserves the rival's ledger
  entries.
- merge_when's first-batch ``insert_condition`` (r10 advisor, medium):
  the CDC idiom ``NOT s.tombstone`` binds on a FRESH table too.
- ``snapshot_overwrite_where`` now REJECTS predicates over the
  GENERATED ALWAYS AS IDENTITY column (r10 advisor, low).
- ``stream_into_snapshot``'s default app id normalizes the checkpoint
  path spelling (r10 advisor, low).
- ``snapshot_update`` carries the idempotent-writes ledger.
"""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _df(spark, items, schema="k long, v long"):
    return spark.createDataFrame(items, schema)


# ---------------------------------------------------------------- retention


@pytest.mark.slow
def test_ledger_retention_expires_one_shot_apps(spark, tmp_path):
    """100 one-shot app ids must NOT appear in a later manifest once
    the retention horizon has passed them (r10 verdict #1's done
    criterion) — while a long-lived app that keeps writing stays."""
    t = str(tmp_path / "t")
    S.snapshot_set_ledger_retention(spark, t, 5)
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(0, 0)]), key="k",
        txn_app_id="long-lived", txn_version=0,
    )
    for i in range(100):
        S.snapshot_merge_upsert(
            spark, t, _df(spark, [(i + 1, i)]), key="k",
            txn_app_id=f"one-shot-{i}", txn_version=0,
        )
    # keep the long-lived app's entry fresh at the tail
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(999, 1)]), key="k",
        txn_app_id="long-lived", txn_version=1,
    )
    cur = S._current_gen(spark, t)
    ledger = S._read_manifest(spark, t, cur).get("txn") or {}
    assert "long-lived" in ledger and ledger["long-lived"] == 1
    # everything older than 5 generations is gone; only the most
    # recent handful of one-shots may linger inside the horizon
    stale = [a for a in ledger if a.startswith("one-shot-")]
    assert all(int(a.rsplit("-", 1)[1]) >= 95 for a in stale), stale
    assert len(ledger) <= 7, ledger
    ages = S._read_manifest(spark, t, cur).get("txn_gen") or {}
    assert set(ages) == set(ledger)


def test_ledger_retention_expired_redelivery_applies_again(spark, tmp_path):
    """Delta's exact caveat: once an app's entry expired, its
    re-delivery is no longer detected — the write APPLIES AGAIN and
    the generation moves.  Pinned as the documented contract."""
    t = str(tmp_path / "t")
    S.snapshot_set_ledger_retention(spark, t, 2)
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 10)]), key="k",
        txn_app_id="appX", txn_version=0,
    )
    # inside the horizon: replay is still a no-op
    g = S._current_gen(spark, t)
    assert S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 777)]), key="k",
        txn_app_id="appX", txn_version=0,
    ) == g
    # push appX past the horizon with three other ledger commits
    for i in range(3):
        S.snapshot_merge_upsert(
            spark, t, _df(spark, [(10 + i, i)]), key="k",
            txn_app_id=f"other-{i}", txn_version=0,
        )
    cur = S._current_gen(spark, t)
    assert "appX" not in (S._read_manifest(spark, t, cur).get("txn") or {})
    # the SAME (app, version) now applies again — NOT idempotent
    g2 = S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 777)]), key="k",
        txn_app_id="appX", txn_version=0,
    )
    assert g2 == cur + 1
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got[1] == 777


def test_ledger_retention_pruned_by_non_txn_commits(spark, tmp_path):
    """The manifest builder's carry prunes too: a compaction-only tail
    (OPTIMIZE after the horizon passed) trims expired entries even
    though no ledger-carrying write ever runs again."""
    t = str(tmp_path / "t")
    S.snapshot_set_ledger_retention(spark, t, 2)
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 1)]), key="k",
        txn_app_id="early", txn_version=0,
    )
    # non-txn merges move the generation past the horizon
    for i in range(4):
        S.snapshot_merge_upsert(spark, t, _df(spark, [(2 + i, i)]), key="k")
    cur = S._current_gen(spark, t)
    assert "early" not in (S._read_manifest(spark, t, cur).get("txn") or {})


def test_ledger_retention_grandfathers_pre_age_manifests(spark, tmp_path):
    """A ledger entry written BEFORE any retention policy existed has
    no txn_gen age; enabling retention later must grandfather it in
    (it starts aging from the next commit), never drop it
    immediately."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 1)]), key="k",
        txn_app_id="old-app", txn_version=0,
    )
    # simulate a pre-txn_gen manifest (older engine version)
    cur = S._current_gen(spark, t)
    m = S._read_manifest(spark, t, cur)
    m.pop("txn_gen", None)
    import json

    S._fs_delete(spark, S._manifest_path(t, cur))
    S._write_text(
        spark, S._manifest_path(t, cur), json.dumps(m, sort_keys=True)
    )
    S.snapshot_set_ledger_retention(spark, t, 3)
    S.snapshot_merge_upsert(spark, t, _df(spark, [(2, 2)]), key="k")
    cur2 = S._current_gen(spark, t)
    led = S._read_manifest(spark, t, cur2).get("txn") or {}
    assert "old-app" in led  # grandfathered, not dropped
    # replay still a no-op while inside the (new) horizon
    assert S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 9)]), key="k",
        txn_app_id="old-app", txn_version=0,
    ) == cur2


def test_ledger_retention_validation_and_clear(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(ValueError):
        S.snapshot_set_ledger_retention(spark, t, 0)
    S.snapshot_set_ledger_retention(spark, t, 1)
    assert S._ledger_retention(spark, t) == 1
    S.snapshot_set_ledger_retention(spark, t, None)
    assert S._ledger_retention(spark, t) is None


def test_clone_copies_retention_policy_but_not_ledger(spark, tmp_path):
    """Retention is table METADATA (travels with the clone, like
    Delta table properties); the ledger itself is dropped (Delta's
    clone rule, pinned since r10) — including the txn_gen age map."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    S.snapshot_set_ledger_retention(spark, src, 7)
    S.snapshot_merge_upsert(
        spark, src, _df(spark, [(1, 1)]), key="k",
        txn_app_id="a", txn_version=0,
    )
    S.snapshot_clone(spark, src, dst)
    assert S._ledger_retention(spark, dst) == 7
    m = S._read_manifest(spark, dst, S._current_gen(spark, dst))
    assert not m.get("txn") and not m.get("txn_gen")


# ------------------------------------------------- pinned-generation OCC


def test_rival_mid_attempt_cannot_lose_ledger_entries(spark, tmp_path):
    """The r10 advisor's TOCTOU, closed: a rival app committing
    BETWEEN writer A's ledger read and its commit must surface as a
    conflict (one pinned generation feeds ledger + expected_cur), and
    A's retry re-derives the ledger from the winner — the final
    manifest carries BOTH apps' entries and the rival's re-delivery
    stays a no-op."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 1)]), key="k",
        txn_app_id="appA", txn_version=0,
    )

    real_validate = S._validate_constraints
    fired = {"n": 0}

    def inject_rival(sp, path, df):
        # first invocation inside writer A's attempt: land a rival
        # ledger commit AFTER A pinned its base generation (A's gate
        # already ran — _validate_constraints is downstream of it)
        if fired["n"] == 0 and path == t:
            fired["n"] = 1
            S._validate_constraints = real_validate
            try:
                S.snapshot_merge_upsert(
                    spark, t, _df(spark, [(50, 50)]), key="k",
                    txn_app_id="appRIVAL", txn_version=0,
                )
            finally:
                S._validate_constraints = inject_rival
        return real_validate(sp, path, df)

    S._validate_constraints = inject_rival
    try:
        S.snapshot_merge_upsert(
            spark, t, _df(spark, [(2, 2)]), key="k",
            txn_app_id="appA", txn_version=1,
            max_conflict_rebases=3,
        )
    finally:
        S._validate_constraints = real_validate

    assert fired["n"] == 1, "rival injection never ran"
    cur = S._current_gen(spark, t)
    ledger = S._read_manifest(spark, t, cur).get("txn") or {}
    # BOTH entries survive: A's retry re-derived the ledger from the
    # winner instead of stamping its stale pre-rival map
    assert ledger == {"appA": 1, "appRIVAL": 0}, ledger
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == {1: 1, 2: 2, 50: 50}, got
    # the rival's re-delivery is a no-op (its entry was not dropped)
    assert S.snapshot_merge_upsert(
        spark, t, _df(spark, [(50, 999)]), key="k",
        txn_app_id="appRIVAL", txn_version=0,
    ) == cur


def test_stale_expected_cur_raises_conflict(spark, tmp_path):
    """The invariant the pinning buys, stated directly: a commit whose
    expected_cur predates a rival's landing raises
    SnapshotWriteConflict — there is no path where a stale ledger can
    reach the manifest."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(spark, t, _df(spark, [(1, 1)]), key="k")
    att = S._WriteAttempt(spark, t, "appA", 5)
    assert att.skip_gen is None and att.ledger == {"appA": 5}
    # rival lands after the pin
    S.snapshot_merge_upsert(spark, t, _df(spark, [(2, 2)]), key="k")
    with pytest.raises(S.SnapshotWriteConflict):
        att.commit({"": "gen-000001"}, "merge")


# -------------------------------------------- merge_when first batch CDC


def test_merge_when_insert_condition_binds_on_fresh_table(spark, tmp_path):
    """r10 advisor (medium): the FIRST micro-batch of a CDC stream
    into a fresh table must not resurrect tombstones — the empty-table
    fallback now applies insert_condition before delegating."""
    t = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, 10, False), (2, 20, True), (3, 30, False)],
        "k long, v long, tombstone boolean",
    )
    S.snapshot_merge_when(
        spark, t, batch, key="k",
        matched_delete="s.tombstone",
        insert_condition="NOT s.tombstone",
    )
    got = {r.k for r in S.read_snapshot_table(spark, t).collect()}
    assert got == {1, 3}, got
    # NULL condition values never fire the insert clause (3VL)
    t2 = str(tmp_path / "t2")
    batch2 = spark.createDataFrame(
        [(1, 1, None), (2, 2, False)], "k long, v long, tombstone boolean"
    )
    S.snapshot_merge_when(
        spark, t2, batch2, key="k",
        matched_delete="s.tombstone",
        insert_condition="NOT s.tombstone",
    )
    assert {r.k for r in S.read_snapshot_table(spark, t2).collect()} == {2}


def test_merge_when_fresh_table_keeps_txn_ledger(spark, tmp_path):
    """The filtered first-batch delegation still records the txn id:
    a replay of batch 0 is a no-op."""
    t = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, 10, False), (2, 20, True)], "k long, v long, tombstone boolean"
    )
    kw = dict(
        matched_delete="s.tombstone", insert_condition="NOT s.tombstone"
    )
    g1 = S.snapshot_merge_when(
        spark, t, batch, key="k", txn_app_id="cdc", txn_version=0, **kw
    )
    assert S.snapshot_merge_when(
        spark, t, batch, key="k", txn_app_id="cdc", txn_version=0, **kw
    ) == g1
    assert {r.k for r in S.read_snapshot_table(spark, t).collect()} == {1}


# --------------------------------------- overwrite_where identity guard


def test_overwrite_where_rejects_identity_predicate(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_set_identity(spark, t, "row_id", start=1, step=1)
    S.snapshot_merge_upsert(
        spark, t, spark.createDataFrame([("a", 1)], "k string, v long"),
        key="k",
    )
    repl = spark.createDataFrame([("b", 2)], "k string, v long")
    with pytest.raises(S.SnapshotIdentityViolation):
        S.snapshot_overwrite_where(spark, t, repl, "row_id > 0")
    # backtick-quoted and case-shifted spellings are caught too
    with pytest.raises(S.SnapshotIdentityViolation):
        S.snapshot_overwrite_where(spark, t, repl, "`row_id` > 0")
    with pytest.raises(S.SnapshotIdentityViolation):
        S.snapshot_overwrite_where(spark, t, repl, F.col("ROW_ID") > 0)
    # a predicate over data columns still works
    S.snapshot_overwrite_where(spark, t, repl, "k = 'b' OR k = 'a'")


def test_expr_mentions_column_boundaries():
    f = S._expr_mentions_column
    assert f("row_id > 0", "row_id")
    assert f("`row_id` = 1", "row_id")
    assert f("ROW_ID in (1,2)", "row_id")
    assert not f("row_identity > 0", "row_id")
    assert not f("arrow_id > 0", "row_id")
    assert not f("k = 'x'", "row_id")


# -------------------------------------------- update-path idempotence


def test_snapshot_update_txn_redelivery_noop(spark, tmp_path):
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        key="k",
    )
    g1 = S.snapshot_update(
        spark, t, "k = 1", {"v": "v + 5"}, key="k",
        txn_app_id="upd", txn_version=0,
    )
    g2 = S.snapshot_update(
        spark, t, "k = 1", {"v": "v + 5"}, key="k",
        txn_app_id="upd", txn_version=0,
    )
    assert g2 == g1  # replay: generation pointer did not move
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == {1: 15, 2: 20}, got  # applied exactly once


# ------------------------------------------- checkpoint app id spelling


def test_checkpoint_app_id_normalizes_spelling(tmp_path, monkeypatch):
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        _checkpoint_app_id,
    )

    monkeypatch.chdir(tmp_path)
    a = _checkpoint_app_id("./ckpt")
    b = _checkpoint_app_id(str(tmp_path / "ckpt"))
    c = _checkpoint_app_id(str(tmp_path / "ckpt") + "/")
    assert a == b == c
    # file: URIs converge on the BARE local path (r11 advisor: a
    # bare-path vs file-URI restart must not mint two ledger keys)
    assert (
        _checkpoint_app_id("file:///x/ckpt/")
        == _checkpoint_app_id("file:/x/ckpt")
        == _checkpoint_app_id("file://host/x/ckpt")
        == _checkpoint_app_id("/x/ckpt")
    )
    # non-local schemes keep their scheme, lose trailing slashes
    assert _checkpoint_app_id("s3://bkt/ckpt/") == _checkpoint_app_id(
        "s3://bkt/ckpt"
    )
    assert _checkpoint_app_id("s3://bkt/ckpt") != _checkpoint_app_id(
        "/bkt/ckpt"
    )


def test_stream_restart_different_spelling_one_ledger_entry(
    spark, tmp_path
):
    """End-to-end: drain a stream with one spelling of the checkpoint
    path (trailing slash + a dotted `x/../` segment), re-deliver the
    drained batch under the CANONICAL spelling's default app id — one
    ledger entry, no double-apply.  (Purely-relative spellings like
    `./ckpt` are normalized too — unit-tested above — but a real
    stream must not use them here: Spark resolves the checkpoint
    against the JVM's cwd, not pytest's, and would write outside
    tmp_path.)"""
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        _checkpoint_app_id,
        stream_into_snapshot,
    )

    land = tmp_path / "land"
    land.mkdir()
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(str(land / "b0"))
    stream = spark.readStream.schema("k long, v long").parquet(
        str(land / "b0")
    )
    t = str(tmp_path / "snap")
    messy = f"{tmp_path}/x/../ckpt/"
    stream_into_snapshot(stream, t, messy, key="k")
    gen = S._current_gen(spark, t)
    # replay batch 0 under the CANONICAL spelling's derived app id
    replay = spark.read.parquet(str(land / "b0"))
    canonical = str(tmp_path / "ckpt")
    assert _checkpoint_app_id(messy) == _checkpoint_app_id(canonical)
    S.snapshot_merge_upsert(
        spark, t, replay, key="k",
        txn_app_id=_checkpoint_app_id(canonical),
        txn_version=0,
    )
    assert S._current_gen(spark, t) == gen  # no-op: same identity
    ledger = S._read_manifest(spark, t, gen).get("txn") or {}
    assert len(ledger) == 1, ledger


# ------------------------------------------- model-based ledger property


from hypothesis import HealthCheck, given, settings, strategies as st

#: a random schedule of ledger writes: (app 0-3, version 0-3) —
#: versions deliberately NON-monotone so re-deliveries and stale
#: versions occur naturally
_SCHEDULE = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 3)),
    min_size=1, max_size=12,
)


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(schedule=_SCHEDULE, retain=st.integers(1, 4))
@pytest.mark.slow
def test_ledger_model_property(spark, tmp_path_factory, schedule, retain):
    """MODEL-BASED ledger semantics: replay a random write schedule
    against a pure-Python model of the contract —

      apply (app, v): no-op if the LIVE ledger holds app at >= v;
      otherwise commit, stamp (app, v) at the new generation, and
      expire every OTHER entry older than `retain` generations.

    After every step the on-disk manifest's txn/txn_gen maps must
    equal the model exactly, and the returned generation must reflect
    the no-op/commit decision.  This pins the full interaction matrix
    (re-delivery x version regression x expiry x carry) that the
    example-based tests sample."""
    tmp = tmp_path_factory.mktemp("ledger-model")
    t = str(tmp / "t")
    S.snapshot_set_ledger_retention(spark, t, retain)

    model_led: dict[str, int] = {}
    model_gen: dict[str, int] = {}
    row = 0
    for app_i, ver in schedule:
        app = f"app-{app_i}"
        seen = model_led.get(app)
        expect_noop = seen is not None and ver <= seen
        cur_before = S._current_gen(spark, t)
        row += 1
        got = S.snapshot_merge_upsert(
            spark, t, _df(spark, [(row, row)]), key="k",
            txn_app_id=app, txn_version=ver,
        )
        if expect_noop:
            assert got == cur_before, (app, ver, got, cur_before)
            continue
        assert got == (cur_before or 0) + 1
        # model the commit: stamp, then expire others past the horizon
        model_led[app] = ver
        model_gen[app] = got
        for a in list(model_led):
            if a != app and got - model_gen[a] > retain:
                del model_led[a]
                del model_gen[a]
        m = S._read_manifest(spark, t, got)
        assert (m.get("txn") or {}) == model_led, (m.get("txn"), model_led)
        assert (m.get("txn_gen") or {}) == model_gen


def test_clone_retention_horizon_governs_clone_writes_only(
    spark, tmp_path
):
    """r11 verdict #6: the retention horizon TRAVELS with the clone —
    writes past the horizon IN THE CLONE expire entries using the
    CLONED conf, while the source table (same policy file content,
    its own generation clock) is untouched by the clone's churn."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    S.snapshot_set_ledger_retention(spark, src, 2)
    S.snapshot_merge_upsert(
        spark, src, _df(spark, [(1, 1)]), key="k",
        txn_app_id="src-app", txn_version=0,
    )
    S.snapshot_clone(spark, src, dst)
    assert S._ledger_retention(spark, dst) == 2
    # seed a clone-local app, then push it past the CLONE's horizon
    S.snapshot_merge_upsert(
        spark, dst, _df(spark, [(2, 2)]), key="k",
        txn_app_id="clone-app", txn_version=0,
    )
    for i in range(3):
        S.snapshot_merge_upsert(
            spark, dst, _df(spark, [(10 + i, i)]), key="k",
            txn_app_id=f"filler-{i}", txn_version=0,
        )
    cur_dst = S._current_gen(spark, dst)
    dst_ledger = S._read_manifest(spark, dst, cur_dst).get("txn") or {}
    assert "clone-app" not in dst_ledger  # expired under the CLONED conf
    # the source's ledger and generation never moved
    cur_src = S._current_gen(spark, src)
    assert cur_src == 1
    src_ledger = S._read_manifest(spark, src, cur_src).get("txn") or {}
    assert src_ledger == {"src-app": 0}
    # and widening the CLONE's policy does not touch the source's file
    S.snapshot_set_ledger_retention(spark, dst, 50)
    assert S._ledger_retention(spark, src) == 2


# ------------------------------------------------- pinned snapshot_update


def test_update_conflict_surfaces_and_retry_opt_in(spark, tmp_path):
    """r11 advisor: ``snapshot_update`` now pins ONE base generation
    per attempt — a rival landing between the pin and the commit
    surfaces as ``SnapshotWriteConflict`` (never a silent lost
    update), and ``max_conflict_rebases`` re-runs the WHOLE attempt
    (re-pin, re-match) against the winner so the rival's write
    survives the retried update."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 1), (2, 2)]), key="k"
    )

    calls = {"n": 0}
    orig = S._WriteAttempt.commit

    def rival_then_commit(att, *a, **kw):
        # a rival lands AFTER update pinned its base, BEFORE its merge
        # commits — exactly the advisor's window
        if calls["n"] == 0:
            calls["n"] += 1
            S.snapshot_merge_upsert(
                spark, att.table_path, _df(spark, [(2, 222)]), key="k",
            )
        return orig(att, *a, **kw)

    import unittest.mock as mock

    with mock.patch.object(S._WriteAttempt, "commit", rival_then_commit):
        with pytest.raises(S.SnapshotWriteConflict):
            S.snapshot_update(spark, t, "k = 1", {"v": "v + 100"}, key="k")
    # rival's write survived; target row unchanged (no torn update)
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got == {1: 1, 2: 222}, got

    calls["n"] = 0
    with mock.patch.object(S._WriteAttempt, "commit", rival_then_commit):
        S.snapshot_update(
            spark, t, "k = 1", {"v": "v + 100"}, key="k",
            max_conflict_rebases=2,
        )
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got[1] == 101 and got[2] == 222, got
