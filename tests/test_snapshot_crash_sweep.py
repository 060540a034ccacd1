"""Parametrized KILL-POINT SWEEP through the snapshot commit protocol
(r9 verdict #2): inject a crash before AND after every metadata-plane
filesystem mutation a merge performs (claim create-exclusive,
tmp-pointer write, pointer delete, pointer swap, stats/breadcrumb
writes, crumb delete), in two flavors —

  soft: the process raises and its in-process abort cleanup runs
        (a validation failure, an OOM caught upstream);
  hard: the process dies AT the mutation — nothing later in the same
        call lands, no cleanup, claims/breadcrumbs stay orphaned
        (SIGKILL semantics, the state surgery the r8 advisor races
        were built from, generated mechanically instead of by hand).

After every kill the sweep asserts the two protocol invariants from
the round-9 verdict:
  (a) a subsequent READER sees either the old or the new snapshot —
      never neither, never an exception;
  (b) a retried merge (after lease expiry in hard mode) converges to
      the exact uncrashed result.

The rebase leg (_WriteAttempt.commit: conflict -> _inflight breadcrumb ->
rebased commit) is swept by deterministically landing a rival commit
from inside the first _commit attempt, so the loser's full rebase
machinery executes under the same kill schedule.
"""

from __future__ import annotations

import time

import pytest

# kill-injection sweeps — slow lane (default `pytest tests/` excludes it; run
# with `-m slow` or `-m ""`, see pytest.ini)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S

#: every metadata-plane mutation primitive the commit protocol uses
_MUTATORS = ("_write_text", "_write_text_exclusive", "_fs_delete",
             "_fs_rename")


class _Killer:
    """Counts metadata mutations under ``scope`` and raises at the
    k-th one.  ``when='after'`` performs the mutation first (crash on
    the far side of the atomic point).  In ``hard`` mode every
    mutation AFTER the kill is swallowed — the process is dead, its
    cleanup never lands."""

    def __init__(self, monkeypatch, scope: str):
        self.scope = scope
        self.k: int | None = None
        self.when = "before"
        self.hard = False
        self.n = 0
        self.fired = False
        self.fired_thread: int | None = None
        self.enabled = False
        self.log: list[tuple[int, str, str]] = []
        for name in _MUTATORS:
            real = getattr(S, name)
            monkeypatch.setattr(S, name, self._wrap(name, real))

    def _wrap(self, name, real):
        def fn(spark, *a, **kw):
            path = str(a[0]) if a else ""
            if not self.enabled or self.scope not in path:
                return real(spark, *a, **kw)
            if self.fired:
                import threading as _th

                if self.hard and _th.get_ident() == self.fired_thread:
                    # dead process: nothing later ever lands.  Raise
                    # the kill again rather than no-op — a best-effort
                    # except that swallowed the first kill must not
                    # resurrect the writer as a zombie that "succeeds"
                    # at mutations which never happened.  Scoped to
                    # the killed THREAD so concurrent rivals (the
                    # N-writer stress) keep running.
                    raise RuntimeError(
                        f"injected kill (already dead) {name}"
                    )
                return real(spark, *a, **kw)
            self.n += 1
            self.log.append((self.n, name, path))
            if self.k is not None and self.n == self.k:
                import threading as _th

                self.fired = True
                self.fired_thread = _th.get_ident()
                if self.when == "after":
                    real(spark, *a, **kw)
                raise RuntimeError(
                    f"injected kill @{self.n} {self.when} {name} {path}"
                )
            return real(spark, *a, **kw)

        return fn

    def arm(self, k, when, hard):
        self.k, self.when, self.hard = k, when, hard
        self.n, self.fired, self.enabled = 0, False, True
        self.fired_thread = None
        self.log.clear()

    def disarm(self):
        self.enabled = False


def _short_lease(monkeypatch, ms=400):
    monkeypatch.setattr(S, "CLAIM_LEASE_MS", ms)
    monkeypatch.setattr(S, "CLAIM_HEARTBEAT_MS", max(ms // 5, 50))


def _rows(spark, table):
    return sorted(
        tuple(r)
        for r in S.read_snapshot_table(spark, table)
        .select("k", "bucket", "v").collect()
    )


def _df(spark, items):
    return spark.createDataFrame(items, "k string, bucket int, v long")


_BASE = [(f"k{i}", i % 2, i) for i in range(8)]
_INC = [("k1", 1, 100), ("k2", 0, 200), ("n1", 0, 300), ("n2", 1, 400)]
_RIVAL = [("r1", 2, 900), ("r2", 2, 901)]   # disjoint partition


def _seed(spark, path):
    S.snapshot_merge_upsert(
        spark, path, _df(spark, _BASE), key="k", partition_cols=["bucket"]
    )


def _count_mutations(spark, tmp_path, killer, run):
    """Dry run with counting only (k=None): how many scoped mutations
    does this scenario perform end to end?"""
    t = str(tmp_path / "count" / "t")
    _seed(spark, t)
    killer.arm(k=None, when="before", hard=False)
    run(t)
    killer.disarm()
    return killer.n


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
@pytest.mark.parametrize("when", ["before", "after"])
def test_merge_commit_kill_sweep(spark, tmp_path, monkeypatch, when, hard):
    """Every mutation of the plain merge commit (claim -> tmp ->
    delete -> swap, plus manifest/stats writes), killed before/after,
    soft and hard: reader sees old or new, retry converges."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))

    def run(t):
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _INC), key="k", partition_cols=["bucket"]
        )

    n = _count_mutations(spark, tmp_path, killer, run)
    assert n >= 4, f"expected >=4 metadata mutations, saw {n}: {killer.log}"

    golden = str(tmp_path / "golden")
    _seed(spark, golden)
    S.snapshot_merge_upsert(
        spark, golden, _df(spark, _INC), key="k", partition_cols=["bucket"]
    )
    old_rows = None
    new_rows = _rows(spark, golden)

    for k in range(1, n + 1):
        t = str(tmp_path / f"{when}-{int(hard)}-{k}" / "t")
        _seed(spark, t)
        if old_rows is None:
            old_rows = _rows(spark, t)
        killer.arm(k=k, when=when, hard=hard)
        raised = False
        try:
            run(t)
        except RuntimeError as e:
            assert "injected kill" in str(e)
            raised = True
        killer.disarm()
        # (a) reader: old or new snapshot, never neither.  A kill the
        # protocol SWALLOWS (the post-atomic-point rename self-heal)
        # must have completed the commit — reader sees NEW then.
        got = _rows(spark, t)
        if raised:
            assert got in (old_rows, new_rows), (
                f"kill@{k}/{when}/hard={hard}: reader saw a torn state "
                f"({len(got)} rows)\nlog={killer.log}"
            )
        else:
            assert got == new_rows, (
                f"kill@{k}/{when}/hard={hard}: swallowed kill but "
                f"commit did not land\nlog={killer.log}"
            )
        # (b) retry converges.  Always wait out the (shortened) claim
        # lease first: a kill right after the atomic claim create — or
        # any hard kill — leaves an orphaned claim that only
        # writer-start recovery may prune once its heartbeat is stale.
        time.sleep(0.6)
        run(t)
        assert _rows(spark, t) == new_rows, (
            f"kill@{k}/{when}/hard={hard}: retry diverged\n"
            f"log={killer.log}"
        )


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
def test_rebase_commit_kill_sweep(spark, tmp_path, monkeypatch, hard):
    """The commit-rebase leg: a rival lands between our merge's
    read and its commit, forcing the conflict -> _inflight breadcrumb
    -> staged-dir re-verify -> rebased commit chain.  Kill every
    mutation of that chain; reader must see (base+rival) or
    (base+rival+ours), and the retried merge converges."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))

    def install_rival_hook():
        """First _commit call under scope triggers a clean rival
        merge first, so the protected writer always conflicts."""
        real_commit = S._commit
        state = {"done": False}

        def wrapped(spark_, path, gen, parts, expected_cur, **kw):
            if not state["done"] and killer.scope in str(path):
                state["done"] = True
                was = killer.enabled
                killer.enabled = False
                monkeypatch.setattr(S, "_commit", real_commit)
                S.snapshot_merge_upsert(
                    spark, path.rsplit("/_manifests", 1)[0]
                    if "/_manifests" in path else path,
                    _df(spark, _RIVAL), key="k", partition_cols=["bucket"],
                )
                monkeypatch.setattr(S, "_commit", wrapped)
                killer.enabled = was
            return real_commit(spark_, path, gen, parts, expected_cur, **kw)

        monkeypatch.setattr(S, "_commit", wrapped)
        return lambda: monkeypatch.setattr(S, "_commit", real_commit)

    def run(t):
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _INC), key="k",
            partition_cols=["bucket"], max_conflict_rebases=4,
        )

    # count the post-conflict mutation chain
    t0 = str(tmp_path / "count" / "t")
    _seed(spark, t0)
    uninstall = install_rival_hook()
    killer.arm(k=None, when="before", hard=False)
    run(t0)
    killer.disarm()
    uninstall()
    n = killer.n
    assert n >= 4, f"expected a rebase chain, saw {n}: {killer.log}"

    golden = str(tmp_path / "golden")
    _seed(spark, golden)
    S.snapshot_merge_upsert(
        spark, golden, _df(spark, _RIVAL), key="k", partition_cols=["bucket"]
    )
    mid_rows = _rows(spark, golden)          # base + rival
    S.snapshot_merge_upsert(
        spark, golden, _df(spark, _INC), key="k", partition_cols=["bucket"]
    )
    new_rows = _rows(spark, golden)          # base + rival + ours

    for k in range(1, n + 1):
        t = str(tmp_path / f"rb-{int(hard)}-{k}" / "t")
        _seed(spark, t)
        uninstall = install_rival_hook()
        killer.arm(k=k, when="before", hard=hard)
        raised = False
        try:
            run(t)
        except RuntimeError as e:
            assert "injected kill" in str(e)
            raised = True
        killer.disarm()
        uninstall()
        got = _rows(spark, t)
        if raised:
            assert got in (mid_rows, new_rows), (
                f"rebase kill@{k}/hard={hard}: torn read "
                f"({len(got)} rows)\nlog={killer.log}"
            )
        else:
            assert got == new_rows, (
                f"rebase kill@{k}/hard={hard}: swallowed kill but "
                f"commit did not land\nlog={killer.log}"
            )
        time.sleep(0.6)
        run(t)
        assert _rows(spark, t) == new_rows, (
            f"rebase kill@{k}/hard={hard}: retry diverged\nlog={killer.log}"
        )


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
def test_vacuum_kill_sweep(spark, tmp_path, monkeypatch, hard):
    """Kill every deletion vacuum performs: committed reads are never
    affected (vacuum touches only unreferenced generations), and a
    re-run vacuum finishes the job."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))

    def build(t):
        _seed(spark, t)
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _INC), key="k", partition_cols=["bucket"]
        )
        S.snapshot_merge_upsert(
            spark, t, _df(spark, [("k1", 1, 111)]), key="k",
            partition_cols=["bucket"],
        )

    t0 = str(tmp_path / "count" / "t")
    build(t0)
    expect = _rows(spark, t0)
    killer.arm(k=None, when="before", hard=False)
    S.snapshot_vacuum(spark, t0, keep_snapshots=1)
    killer.disarm()
    n = killer.n
    assert n >= 1, "vacuum deleted nothing; scenario is too small"

    for k in range(1, n + 1):
        t = str(tmp_path / f"v-{int(hard)}-{k}" / "t")
        build(t)
        killer.arm(k=k, when="before", hard=hard)
        try:
            S.snapshot_vacuum(spark, t, keep_snapshots=1)
        except RuntimeError as e:
            assert "injected kill" in str(e)
        killer.disarm()
        assert _rows(spark, t) == expect, f"vacuum kill@{k} broke reads"
        time.sleep(0.6)
        S.snapshot_vacuum(spark, t, keep_snapshots=1)
        assert _rows(spark, t) == expect
        # the retried vacuum finished: every surviving generation dir
        # is referenced by the retained manifest (untouched partitions
        # legitimately keep older generations' dirs alive)
        import os

        cur = S._current_gen(spark, t)
        refs = {
            g.split("/")[0]
            for g in S._read_manifest(spark, t, cur)["partitions"].values()
        }
        gens = {d for d in os.listdir(t) if d.startswith("gen-")}
        assert gens == refs, (gens, refs)


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_delete_keys_kill_sweep(spark, tmp_path, monkeypatch, mode, hard):
    """Kill every metadata mutation of snapshot_delete_keys in both
    modes (partition rewrite and deletion vectors): reader sees the
    pre-delete or post-delete snapshot, never a torn one; the retried
    delete converges."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))
    doomed = _df(spark, [("k1", 1, 0), ("k4", 0, 0)]).select("k")

    def run(t):
        S.snapshot_delete_keys(
            spark, t, doomed, key="k", partition_cols=["bucket"],
            mode=mode,
        )

    t0 = str(tmp_path / "count" / "t")
    _seed(spark, t0)
    killer.arm(k=None, when="before", hard=False)
    run(t0)
    killer.disarm()
    n = killer.n
    assert n >= 4, f"expected >=4 metadata mutations, saw {n}: {killer.log}"

    golden = str(tmp_path / "golden")
    _seed(spark, golden)
    old_rows = _rows(spark, golden)
    run(golden)
    new_rows = _rows(spark, golden)
    assert len(new_rows) == len(old_rows) - 2

    for k in range(1, n + 1):
        t = str(tmp_path / f"d-{mode}-{int(hard)}-{k}" / "t")
        _seed(spark, t)
        killer.arm(k=k, when="before", hard=hard)
        raised = False
        try:
            run(t)
        except RuntimeError as e:
            assert "injected kill" in str(e)
            raised = True
        killer.disarm()
        got = _rows(spark, t)
        if raised:
            assert got in (old_rows, new_rows), (
                f"delete kill@{k}/{mode}/hard={hard}: torn read "
                f"({len(got)} rows)\nlog={killer.log}"
            )
        else:
            assert got == new_rows, (
                f"delete kill@{k}/{mode}/hard={hard}: swallowed kill "
                f"but commit did not land\nlog={killer.log}"
            )
        time.sleep(0.6)
        run(t)
        assert _rows(spark, t) == new_rows, (
            f"delete kill@{k}/{mode}/hard={hard}: retry diverged\n"
            f"log={killer.log}"
        )


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
def test_optimize_kill_sweep(spark, tmp_path, monkeypatch, hard):
    """Kill every metadata mutation of snapshot_optimize (the
    fold-everything rewrite): content is IDENTICAL before and after a
    successful optimize, so the invariant collapses to 'reads always
    return the table' — plus the retried optimize lands a single
    folded generation."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))

    def build(t):
        _seed(spark, t)
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _INC), key="k", partition_cols=["bucket"]
        )

    t0 = str(tmp_path / "count" / "t")
    build(t0)
    expect = _rows(spark, t0)
    killer.arm(k=None, when="before", hard=False)
    S.snapshot_optimize(spark, t0, partition_cols=["bucket"])
    killer.disarm()
    n = killer.n
    assert n >= 4, f"expected >=4 metadata mutations, saw {n}: {killer.log}"

    for k in range(1, n + 1):
        t = str(tmp_path / f"o-{int(hard)}-{k}" / "t")
        build(t)
        killer.arm(k=k, when="before", hard=hard)
        try:
            S.snapshot_optimize(spark, t, partition_cols=["bucket"])
        except RuntimeError as e:
            assert "injected kill" in str(e)
        killer.disarm()
        assert _rows(spark, t) == expect, f"optimize kill@{k} broke reads"
        time.sleep(0.6)
        S.snapshot_optimize(spark, t, partition_cols=["bucket"])
        assert _rows(spark, t) == expect
        cur = S._current_gen(spark, t)
        refs = {
            g.split("/")[0]
            for g in S._read_manifest(spark, t, cur)["partitions"].values()
        }
        assert len(refs) == 1, refs


@pytest.mark.parametrize("hard", [False, True], ids=["soft", "hard"])
def test_identity_ledger_merge_kill_sweep(spark, tmp_path, monkeypatch, hard):
    """The riskiest composition under crash: a merge that MINTS
    identity values AND carries the txn ledger (both refuse the silent
    rebase).  Kill every metadata mutation; after the lease the retry
    must converge with (a) no duplicate engine-assigned ids, (b) the
    ledger recording the batch exactly once — a re-delivery after the
    converged retry is a no-op."""
    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))

    def build(t):
        S.snapshot_set_identity(spark, t, "sid", start=1, step=1)
        killer.disarm()
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _BASE), key="k", partition_cols=["bucket"]
        )

    def run(t):
        S.snapshot_merge_upsert(
            spark, t, _df(spark, _INC), key="k",
            partition_cols=["bucket"], max_conflict_rebases=4,
            txn_app_id="sweep", txn_version=1,
        )

    t0 = str(tmp_path / "count" / "t")
    build(t0)
    killer.arm(k=None, when="before", hard=False)
    run(t0)
    killer.disarm()
    n = killer.n
    assert n >= 4, f"expected >=4 metadata mutations, saw {n}: {killer.log}"

    golden = str(tmp_path / "golden")
    build(golden)
    run(golden)
    new_rows = _rows(spark, golden)

    for k in range(1, n + 1):
        t = str(tmp_path / f"il-{int(hard)}-{k}" / "t")
        build(t)
        old_rows = _rows(spark, t)
        killer.arm(k=k, when="before", hard=hard)
        raised = False
        try:
            run(t)
        except RuntimeError as e:
            assert "injected kill" in str(e)
            raised = True
        killer.disarm()
        got = _rows(spark, t)
        if raised:
            assert got in (old_rows, new_rows), (
                f"id+ledger kill@{k}/hard={hard}: torn read\n"
                f"log={killer.log}"
            )
        else:
            assert got == new_rows
        time.sleep(0.6)
        run(t)
        assert _rows(spark, t) == new_rows, (
            f"id+ledger kill@{k}/hard={hard}: retry diverged"
        )
        final = S.read_snapshot_table(spark, t).collect()
        sids = [r.sid for r in final]
        assert len(sids) == len(set(sids)), (
            f"duplicate identity values after crash+retry: {sorted(sids)}"
        )
        # ledger recorded exactly once: a further re-delivery no-ops
        cur = S._current_gen(spark, t)
        assert S.snapshot_merge_upsert(
            spark, t, _df(spark, [("zz", 0, 1)]), key="k",
            partition_cols=["bucket"],
            txn_app_id="sweep", txn_version=1,
        ) == cur
