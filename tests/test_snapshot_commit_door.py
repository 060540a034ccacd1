"""The snapshot table's one commit door (``_WriteAttempt.commit``).

Every write reads its base manifest once and runs one recovery pass;
a spent rebase budget raises before any rebase work; a metadata commit
waits out a rival's live claim like a DML commit does; and the commit
path's fault handling raises real I/O faults instead of swallowing
them, leaving the table as it was and the claim released.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _inc(spark, lo, hi, mul=7):
    return spark.range(lo, hi).select(
        F.col("id").alias("parent_id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * mul).alias("v"),
    )


def _rows(spark, t):
    return sorted(
        tuple(r)
        for r in S.read_snapshot_table(spark, t)
        .select("parent_id", "bucket", "v").collect()
    )


def _counting(monkeypatch, name):
    """Wrap ``S.<name>`` to count its calls."""
    real = getattr(S, name)
    calls = []

    def wrapped(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(S, name, wrapped)
    return calls


@pytest.mark.parametrize("write", ["merge", "txn_merge", "update"])
def test_one_base_manifest_read_and_recovery_per_write(
    spark, tmp_path, monkeypatch, write
):
    """A write attempt reads its base manifest once (the ledger gate,
    the rebase loop and the update's merge body use the attempt's) and
    runs one writer-start recovery pass."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _inc(spark, 0, 40), partition_cols=["bucket"]
    )
    reads = _counting(monkeypatch, "_read_manifest")
    recoveries = _counting(monkeypatch, "_commit_recover")
    if write == "update":
        gen = S.snapshot_update(
            spark, t, "parent_id < 5", {"v": "v + 1"},
            partition_cols=["bucket"],
        )
    else:
        txn = (
            {"txn_app_id": "app", "txn_version": 1}
            if write == "txn_merge" else {}
        )
        gen = S.snapshot_merge_upsert(
            spark, t, _inc(spark, 0, 10, mul=9), partition_cols=["bucket"],
            **txn,
        )
    assert gen == 2
    assert len(reads) == 1, reads
    assert len(recoveries) == 1, recoveries


def test_spent_budget_raises_before_rebase_work(spark, tmp_path, monkeypatch):
    """A budget-0 merge that loses to a disjoint rival raises the
    conflict without registering a vacuum breadcrumb (or checking its
    staged dirs, or overlaying the rival's map)."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _inc(spark, 0, 40), partition_cols=["bucket"]
    )
    real_commit = S._WriteAttempt.commit
    fired = []

    def commit_after_rival(att, *a, **k):
        if not fired:
            fired.append(1)
            S.snapshot_merge_upsert(
                spark, t, _inc(spark, 0, 40, mul=5).filter("bucket = 0"),
                partition_cols=["bucket"],
            )
        return real_commit(att, *a, **k)

    monkeypatch.setattr(S._WriteAttempt, "commit", commit_after_rival)
    crumbs = _counting(monkeypatch, "_register_inflight")
    with pytest.raises(S.SnapshotWriteConflict):
        S.snapshot_merge_upsert(
            spark, t, _inc(spark, 0, 40, mul=9).filter("bucket = 1"),
            partition_cols=["bucket"],
        )
    assert fired and crumbs == []
    assert S._current_gen(spark, t) == 2
    assert not S._fs_exists(spark, f"{t}/{S._INFLIGHT_DIR}")


def test_restore_waits_out_a_released_rival_claim(spark, tmp_path):
    """A metadata commit (restore) that meets a rival's live claim on
    its generation waits for the claim to go, then commits."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(spark, t, _inc(spark, 0, 20))
    gen1_rows = _rows(spark, t)
    S.snapshot_merge_upsert(spark, t, _inc(spark, 0, 20, mul=3))
    # a live rival holds generation 3's claim and aborts a moment later
    claim = S._manifest_path(t, 3)
    S._write_text(spark, claim, '{"gen": 3, "partitions": {}}')

    def release():
        time.sleep(1.0)
        S._fs_delete(spark, claim)

    rival = threading.Thread(target=release)
    rival.start()
    try:
        assert S.snapshot_restore(spark, t, to_gen=1) == 3
    finally:
        rival.join()
    assert _rows(spark, t) == gen1_rows
    assert S._read_manifest(spark, t, 3)["restored_from"] == 1


def test_pointer_write_fault_raises_and_releases_the_claim(
    spark, tmp_path, monkeypatch
):
    """A non-FileNotFound I/O fault writing the pointer tmp raises out
    of the write; the table reads exactly as before, the claim and the
    partial tmp are gone, and the next write lands at once."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, t, _inc(spark, 0, 40), partition_cols=["bucket"]
    )
    before = _rows(spark, t)
    real_write = S._write_text

    def faulty(spark_, path, text):
        if path.endswith("/_current__tmp"):
            real_write(spark_, path, text[:1])
            raise OSError("injected: no space left on device")
        real_write(spark_, path, text)

    monkeypatch.setattr(S, "_write_text", faulty)
    with pytest.raises(OSError, match="injected"):
        S.snapshot_merge_upsert(
            spark, t, _inc(spark, 0, 10, mul=9), partition_cols=["bucket"]
        )
    monkeypatch.setattr(S, "_write_text", real_write)
    assert S._current_gen(spark, t) == 1
    assert _rows(spark, t) == before
    assert not S._fs_exists(spark, S._manifest_path(t, 2))
    assert not S._fs_exists(spark, f"{t}/_current__tmp")
    assert S.snapshot_merge_upsert(
        spark, t, _inc(spark, 0, 10, mul=9), partition_cols=["bucket"]
    ) == 2


def test_recovery_deletes_garbage_tmp_and_raises_read_faults(
    spark, tmp_path, monkeypatch
):
    """Writer-start recovery deletes a tmp that never reached its
    commit's atomic point (does not parse), but a fault reading the
    tmp raises and leaves it in place instead of reading as garbage."""
    t = str(tmp_path / "t")
    S.snapshot_merge_upsert(spark, t, _inc(spark, 0, 20))
    tmp = f"{t}/_current__tmp"
    S._write_text(spark, tmp, "garb@ge")
    S._commit_recover(spark, t)
    assert not S._fs_exists(spark, tmp)
    assert S._current_gen(spark, t) == 1

    S._write_text(spark, tmp, "1")
    real_read = S._read_text

    def faulty(spark_, path):
        if path == tmp:
            raise OSError("injected: input/output error")
        return real_read(spark_, path)

    monkeypatch.setattr(S, "_read_text", faulty)
    with pytest.raises(OSError, match="injected"):
        S._commit_recover(spark, t)
    monkeypatch.setattr(S, "_read_text", real_read)
    assert S._fs_exists(spark, tmp)
    S._commit_recover(spark, t)
    assert not S._fs_exists(spark, tmp)
    assert S._current_gen(spark, t) == 1
