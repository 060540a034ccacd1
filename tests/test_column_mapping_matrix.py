"""Column-mapping x lifecycle matrix (r9 verdict #5): RENAME/DROP
COLUMN are metadata-only commits, so every surface that re-reads old
generations must apply the mapping — this test drives the full
{rename, drop} x {time-travel, clone, restore, optimize} grid and
asserts byte-exact reads at each point.

AS-OF-across-a-rename semantics (stated in the module contract, see
``read_snapshot_table``): a time-travel read renders the schema AS OF
THAT VERSION — the pre-rename name — because the manifest chain stores
the logical schema per commit and a snapshot read is reproducible
byte-for-byte.  (Delta renders time travel through the CURRENT logical
schema instead; the divergence is deliberate and documented.)
"""

from __future__ import annotations

import pytest

# rename/drop matrix storm — slow lane (default `pytest tests/` excludes it; run
# with `-m slow` or `-m ""`, see pytest.ini)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _df(spark, items):
    return spark.createDataFrame(items, "k long, bucket int, v long, tag string")


def _build(spark, tmp_path, op):
    """Base merges -> {rename v->val | drop tag} -> one post-change
    merge, with stats and a bloom on ``k``.  Returns (table,
    pre_change_gen, expected current rows)."""
    t = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, t, ["k"], bloom_cols=["k"])
    S.snapshot_merge_upsert(
        spark, t,
        _df(spark, [(k, k % 2, 10 * k, f"t{k}") for k in range(6)]),
        key="k", partition_cols=["bucket"],
    )
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(1, 1, 111, "t1b"), (6, 0, 60, "t6")]),
        key="k", partition_cols=["bucket"],
    )
    pre = S._current_gen(spark, t)
    if op == "rename":
        S.snapshot_rename_column(spark, t, "v", "val")
        inc = spark.createDataFrame(
            [(7, 1, 70, "t7"), (0, 0, 1000, "t0b")],
            "k long, bucket int, val long, tag string",
        )
    else:
        S.snapshot_drop_column(spark, t, "tag")
        inc = spark.createDataFrame(
            [(7, 1, 70), (0, 0, 1000)], "k long, bucket int, v long"
        )
    S.snapshot_merge_upsert(spark, t, inc, key="k", partition_cols=["bucket"])
    expect = {
        0: 1000, 1: 111, 2: 20, 3: 30, 4: 40, 5: 50, 6: 60, 7: 70,
    }
    return t, pre, expect


def _vals(df, vcol):
    return {r.k: r[vcol] for r in df.collect()}


@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_current_read(spark, tmp_path, op):
    t, _, expect = _build(spark, tmp_path, op)
    got = S.read_snapshot_table(spark, t)
    if op == "rename":
        assert "val" in got.columns and "v" not in got.columns
        assert _vals(got, "val") == expect
        # pre-rename tags survive untouched
        assert {r.k: r.tag for r in got.collect()}[1] == "t1b"
    else:
        assert "tag" not in got.columns
        assert _vals(got, "v") == expect


@pytest.mark.parametrize("surface", ["where", "point", "count"])
@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_pruned_reads(spark, tmp_path, op, surface):
    """The stats-pruned reads apply the mapping exactly as the full
    read does: each equals ``read_snapshot_table(...).filter(...)``,
    columns and rows, at the current and at the pre-change
    generation."""
    t, pre, _ = _build(spark, tmp_path, op)
    for at in (None, pre):
        full = S.read_snapshot_table(spark, t, at_gen=at)
        if surface == "count":
            assert S.snapshot_metadata_count(spark, t, at_gen=at) == (
                full.count()
            )
            continue
        if surface == "where":
            got = S.snapshot_read_where(spark, t, {"k": (2, 6)}, at_gen=at)
            want = full.filter(F.col("k").between(2, 6))
        else:
            got = S.snapshot_read_point(spark, t, "k", [1, 3, 7], at_gen=at)
            want = full.filter(F.col("k").isin([1, 3, 7]))
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_time_travel(spark, tmp_path, op):
    """AS OF a pre-change version renders that version's schema (the
    old name / the dropped column present) and its exact values."""
    t, pre, _ = _build(spark, tmp_path, op)
    old = S.read_snapshot_table(spark, t, at_gen=pre)
    assert "v" in old.columns and "tag" in old.columns
    assert "val" not in old.columns
    assert _vals(old, "v") == {0: 0, 1: 111, 2: 20, 3: 30, 4: 40,
                               5: 50, 6: 60}
    assert {r.k: r.tag for r in old.collect()}[6] == "t6"


@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_clone(spark, tmp_path, op):
    """A shallow clone of the post-change table reads byte-exact, and
    keeps doing so after the SOURCE is optimized+vacuumed (clone
    protection) and after the CLONE takes its own writes."""
    t, _, expect = _build(spark, tmp_path, op)
    c = str(tmp_path / "c")
    S.snapshot_clone(spark, t, c)
    vcol = "val" if op == "rename" else "v"
    assert _vals(S.read_snapshot_table(spark, c), vcol) == expect
    # clone diverges without touching the source
    inc = (
        spark.createDataFrame(
            [(8, 0, 80, "t8")], "k long, bucket int, val long, tag string"
        )
        if op == "rename"
        else spark.createDataFrame([(8, 0, 80)], "k long, bucket int, v long")
    )
    S.snapshot_merge_upsert(spark, c, inc, key="k", partition_cols=["bucket"])
    assert _vals(S.read_snapshot_table(spark, c), vcol) == {**expect, 8: 80}
    assert _vals(S.read_snapshot_table(spark, t), vcol) == expect


@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_restore_across_boundary(spark, tmp_path, op):
    """RESTORE to a pre-change version brings back the old schema and
    exact bytes (the restore commit carries the TARGET's schema and
    rename history, not the current pointer's); the table then takes
    new writes under the restored schema."""
    t, pre, _ = _build(spark, tmp_path, op)
    S.snapshot_restore(spark, t, pre)
    got = S.read_snapshot_table(spark, t)
    assert "v" in got.columns and "tag" in got.columns
    assert "val" not in got.columns
    assert _vals(got, "v") == {0: 0, 1: 111, 2: 20, 3: 30, 4: 40,
                               5: 50, 6: 60}
    S.snapshot_merge_upsert(
        spark, t, _df(spark, [(9, 1, 90, "t9")]),
        key="k", partition_cols=["bucket"],
    )
    assert _vals(S.read_snapshot_table(spark, t), "v")[9] == 90


@pytest.mark.parametrize("op", ["rename", "drop"])
def test_mapping_optimize_localizes(spark, tmp_path, op):
    """OPTIMIZE rewrites every referenced generation under the CURRENT
    logical schema: reads are identical before/after, and the
    rewritten dirs match no rename entry (the mapping debt is
    physically amortized — verified by reading the folded generation's
    parquet footer directly)."""
    t, _, expect = _build(spark, tmp_path, op)
    vcol = "val" if op == "rename" else "v"
    before = _vals(S.read_snapshot_table(spark, t), vcol)
    S.snapshot_optimize(spark, t, partition_cols=["bucket"])
    after_df = S.read_snapshot_table(spark, t)
    assert _vals(after_df, vcol) == before == expect
    # physical check: the folded generation's files carry the NEW
    # name / omit the dropped column — no mapping applied at read time
    cur = S._current_gen(spark, t)
    man = S._read_manifest(spark, t, cur)
    gdirs = {g.split("/")[0] for g in man["partitions"].values()}
    assert len(gdirs) == 1, gdirs
    raw = spark.read.parquet(f"{t}/{gdirs.pop()}")
    if op == "rename":
        assert "val" in raw.columns and "v" not in raw.columns
    else:
        assert "tag" not in raw.columns
    # mapping entries reference only RETIRED dirs now
    live = {g.split("/")[0] for g in man["partitions"].values()}
    for entry in man.get("renames") or []:
        assert not (set(entry["dirs"]) & live), (
            "OPTIMIZE left a live dir inside a rename entry's scope"
        )
