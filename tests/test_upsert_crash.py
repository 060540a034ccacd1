"""Crash-window tests for the rename-rename-delete directory swap
(``upsert._swap_in``/``_recover``) that the streaming sketch table and
the dashboard rollups commit through: inject a failure at every rename
leg of the swap and assert that the replayed micro-batch converges to
the uncrashed result.

The swap's contract: single writer, rename-atomic filesystem; a crash
at any point leaves either the old directory or a recoverable
``__old``, and the next writer call first heals it (``_recover``) and
then re-applies its batch.  Chunks and corpus tables do not use this
swap: they commit through the snapshot table, whose crash legs are
swept in ``tests/test_snapshot_crash_sweep.py``."""

from __future__ import annotations

import json

import pytest

from gpt_rag_ingestion_spark.operators import upsert as U
from gpt_rag_ingestion_spark.streaming.micro_batch import run_incremental_sketch


def _crash_on_nth_rename(monkeypatch, n: int):
    real = U._fs_rename
    state = {"k": 0}

    def crashing(spark, src, dst):
        state["k"] += 1
        if state["k"] == n:
            raise RuntimeError(f"injected crash before rename #{n}")
        return real(spark, src, dst)

    monkeypatch.setattr(U, "_fs_rename", crashing)
    return lambda: monkeypatch.setattr(U, "_fs_rename", real)


def _land(landing, name, lo, hi):
    (landing / name).write_text(
        "\n".join(
            json.dumps(
                {"event_id": i, "event_type": f"t{i % 2}",
                 "value": (i * 7) % 500}
            )
            for i in range(lo, hi)
        )
    )


def _cells(spark, sketch):
    return sorted(tuple(r) for r in spark.read.parquet(sketch).collect())


@pytest.mark.parametrize("crash_at", [1, 2])
def test_unpartitioned_merge_crash_legs_converge(
    spark, tmp_path, monkeypatch, crash_at
):
    """The swap has two renames: live->__old (1) and staged->live (2).
    A crash before either fails the micro-batch; the stream replays it
    on the next drain, which heals the swap and produces the exact
    uncrashed sketch."""
    golden, table = tmp_path / "golden", tmp_path / "crashed"
    for root in (golden, table):
        (root / "landing").mkdir(parents=True)
        _land(root / "landing", "b1.json", 0, 300)
        run_incremental_sketch(
            spark, str(root / "landing"), str(root / "sketch"),
            str(root / "ckpt"),
        )
        _land(root / "landing", "b2.json", 300, 500)
    sketch = str(table / "sketch")
    before = _cells(spark, sketch)
    run_incremental_sketch(
        spark, str(golden / "landing"), str(golden / "sketch"),
        str(golden / "ckpt"),
    )

    restore = _crash_on_nth_rename(monkeypatch, crash_at)
    with pytest.raises(Exception, match="injected crash"):
        run_incremental_sketch(
            spark, str(table / "landing"), sketch, str(table / "ckpt")
        )
    restore()

    # recovery restores the old generation: the failed batch left no
    # trace in the sketch
    U._recover(spark, sketch)
    assert _cells(spark, sketch) == before

    run_incremental_sketch(
        spark, str(table / "landing"), sketch, str(table / "ckpt")
    )
    assert _cells(spark, sketch) == _cells(spark, str(golden / "sketch"))
    assert not U._fs_exists(spark, sketch + "__old")
