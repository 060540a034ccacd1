"""Data skipping over the snapshot-table format: per-file min/max
stats + bloom filters collected at commit time (the Delta per-file
stats / Iceberg manifest-bounds mechanism), pruned range reads and
point lookups that are provably pure I/O optimizations — every test
asserts BOTH result equality against the unpruned read AND that files
were actually skipped."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _clustered(spark, n=4000, files=8):
    """Rows range-clustered on v so file min/max windows are narrow."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("parent_id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            (F.col("id") * 3).alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 17)).alias("s"),
        )
        .repartitionByRange(files, "v")
    )


@pytest.mark.parametrize("partitioned", [False, True])
def test_range_skip_equals_full_filter(spark, tmp_path, partitioned):
    tbl = str(tmp_path / "t")
    pc = ["bucket"] if partitioned else None
    S.snapshot_enable_stats(spark, tbl, cols=["v", "s"])
    S.snapshot_merge_upsert(
        spark, tbl, _clustered(spark), partition_cols=pc
    )
    rep: dict = {}
    got = S.snapshot_read_where(spark, tbl, {"v": (600, 900)}, report=rep)
    want = S.read_snapshot_table(spark, tbl).filter(
        (F.col("v") >= 600) & (F.col("v") <= 900)
    )
    cols = ["parent_id", "bucket", "v", "s"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))
    assert rep["files_skipped"] > 0, rep
    assert rep["files_read"] < rep["files_total"]
    assert rep["unpruned_gens"] == 0


def test_open_bounds_and_string_stats(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v", "s"])
    S.snapshot_merge_upsert(spark, tbl, _clustered(spark))
    # open lower bound
    got = S.snapshot_read_where(spark, tbl, {"v": (None, 300)})
    want = S.read_snapshot_table(spark, tbl).filter(F.col("v") <= 300)
    assert got.count() == want.count() == 101
    # string range (lexicographic)
    got = S.snapshot_read_where(spark, tbl, {"s": ("s3", "s5")})
    want = S.read_snapshot_table(spark, tbl).filter(
        (F.col("s") >= "s3") & (F.col("s") <= "s5")
    )
    assert _rows(got) == _rows(want)


def test_all_null_file_is_skipped(spark, tmp_path):
    """A file that is all-NULL for a range column is skippable: range
    predicates are null-rejecting."""
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    nulls = spark.range(100).select(
        F.col("id").alias("parent_id"),
        F.lit(None).cast("long").alias("v"),
        F.lit(0).alias("grp"),
    )
    vals = spark.range(100, 200).select(
        F.col("id").alias("parent_id"),
        (F.col("id") * 2).alias("v"),
        F.lit(1).alias("grp"),
    )
    # grp is a PARTITION column, so the all-NULL rows land in their own
    # directory — and therefore their own file(s) — structurally
    S.snapshot_merge_upsert(
        spark, tbl, nulls.unionByName(vals), partition_cols=["grp"]
    )
    rep: dict = {}
    got = S.snapshot_read_where(spark, tbl, {"v": (0, 10**9)}, report=rep)
    assert got.count() == 100
    assert rep["files_skipped"] >= 1  # the all-null file


def test_stats_enabled_late_reads_unpruned_but_correct(spark, tmp_path):
    """Generations written before enable_stats have no sidecar: the
    pruned read falls back to whole-generation scans (unpruned_gens
    counts them) and stays correct; a later commit gets stats."""
    tbl = str(tmp_path / "t")
    S.snapshot_merge_upsert(spark, tbl, _clustered(spark, n=1000))
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    rep: dict = {}
    got = S.snapshot_read_where(spark, tbl, {"v": (0, 600)}, report=rep)
    want = S.read_snapshot_table(spark, tbl).filter(
        (F.col("v") >= 0) & (F.col("v") <= 600)
    )
    assert _rows(got) == _rows(want)
    assert rep["unpruned_gens"] == 1 and rep["files_total"] == 0
    # optimize rewrites everything under the now-enabled config
    S.snapshot_optimize(spark, tbl, zorder_cols=["v"])
    rep2: dict = {}
    got2 = S.snapshot_read_where(spark, tbl, {"v": (0, 600)}, report=rep2)
    assert _rows(got2.select("parent_id", "v")) == _rows(
        want.select("parent_id", "v")
    )
    assert rep2["unpruned_gens"] == 0 and rep2["files_skipped"] > 0


def test_multi_generation_pruning_respects_live_partitions(spark, tmp_path):
    """After an incremental merge, the old generation's sidecar still
    lists files for partitions the new generation superseded — pruning
    must consider only files whose partition is live in THIS manifest,
    or superseded rows would resurface."""
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    S.snapshot_merge_upsert(
        spark, tbl, _clustered(spark, n=2000), partition_cols=["bucket"]
    )
    # rewrite bucket 1 only, with shifted values
    inc = (
        spark.range(2000, 2400)
        .select(
            F.col("id").alias("parent_id"),
            F.lit(1).cast("int").alias("bucket"),
            (F.col("id") * 3).alias("v"),
            F.lit("sx").alias("s"),
        )
    )
    S.snapshot_merge_upsert(spark, tbl, inc, partition_cols=["bucket"])
    got = S.snapshot_read_where(spark, tbl, {"v": (None, None)})
    want = S.read_snapshot_table(spark, tbl)
    assert _rows(got) == _rows(want)
    # and a real range still matches
    got = S.snapshot_read_where(spark, tbl, {"v": (6000, 6900)})
    assert _rows(got) == _rows(
        want.filter((F.col("v") >= 6000) & (F.col("v") <= 6900))
    )


def test_time_travel_pruned_read(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    g1 = S.snapshot_merge_upsert(spark, tbl, _clustered(spark, n=1000))
    S.snapshot_merge_upsert(
        spark, tbl,
        spark.range(1000, 1500).select(
            F.col("id").alias("parent_id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            (F.col("id") * 3).alias("v"),
            F.lit("sx").alias("s"),
        ),
    )
    got = S.snapshot_read_where(spark, tbl, {"v": (0, 999)}, at_gen=g1)
    want = S.read_snapshot_table(spark, tbl, at_gen=g1).filter(
        (F.col("v") >= 0) & (F.col("v") <= 999)
    )
    assert _rows(got) == _rows(want)


def test_empty_selection_keeps_schema(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    S.snapshot_merge_upsert(spark, tbl, _clustered(spark, n=500))
    rep: dict = {}
    got = S.snapshot_read_where(
        spark, tbl, {"v": (10**12, 10**13)}, report=rep
    )
    assert got.count() == 0
    assert rep["files_read"] == 0
    assert set(got.columns) == {"parent_id", "bucket", "v", "s"}


def test_bloom_point_lookup(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(
        spark, tbl, cols=["v"], bloom_cols=["parent_id"]
    )
    # NOT clustered on parent_id: min/max can't prune ids, blooms can
    df = (
        spark.range(20000)
        .select(
            F.col("id").alias("parent_id"),
            (F.col("id") * 7).alias("v"),
        )
        .repartition(16)  # hash-scatter: every file spans the id range
    )
    S.snapshot_merge_upsert(spark, tbl, df)
    keys = [3, 777, 4242, 19999]
    rep: dict = {}
    got = S.snapshot_read_point(spark, tbl, "parent_id", keys, report=rep)
    assert _rows(got) == sorted((k, k * 7) for k in keys)
    assert rep["files_skipped"] > 0, rep
    # no false negatives across a wider probe
    probe = list(range(0, 20000, 997))
    got2 = S.snapshot_read_point(spark, tbl, "parent_id", probe)
    assert got2.count() == len(probe)
    # absent keys return nothing
    assert (
        S.snapshot_read_point(spark, tbl, "parent_id", [10**9]).count() == 0
    )


def test_bloom_sidecar_bits_and_all_null_file(spark, tmp_path):
    """The one-pass sidecar's bloom bitmap of every file equals the OR
    of the per-row k positions, and a file whose bloom column is all
    NULL gets an empty bitmap (so every point lookup skips it) while
    its min/max/null stats are still recorded."""
    import glob
    import json

    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"], bloom_cols=["k"])
    df = spark.range(300).select(
        F.when(F.col("id") >= 100, F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") >= 100).cast("int").alias("grp"),
    )
    # grp is a partition column: the all-NULL-k rows get their own file
    S.snapshot_merge_upsert(
        spark, tbl, df.coalesce(1), key="v", partition_cols=["grp"]
    )
    (side,) = glob.glob(f"{tbl}/_stats/*.json")
    meta = json.load(open(side))
    m, k = meta["bloom_bits"], meta["bloom_hashes"]
    files = meta["files"]
    by_grp = {int(f.split("grp=")[1].split("/")[0]): e for f, e in files.items()}
    assert by_grp[0]["bloom"]["k"] == "0"
    assert by_grp[0]["rows"] == 100 and by_grp[0]["cols"]["v"]["nulls"] == 0
    want = 0
    for r in spark.range(100, 300).select(
        F.explode(F.array(*[
            F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(m))
            for i in range(k)
        ])).alias("p")
    ).distinct().collect():
        want |= 1 << int(r["p"])
    assert int(by_grp[1]["bloom"]["k"], 16) == want
    rep: dict = {}
    got = S.snapshot_read_point(spark, tbl, "k", [150], report=rep)
    assert _rows(got.select("k", "v")) == [(150, 300)]
    assert rep["files_skipped"] >= 1, rep  # the all-NULL-k file


def test_point_lookup_falls_back_to_minmax_without_bloom(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["parent_id"])  # no bloom col
    S.snapshot_merge_upsert(spark, tbl, _clustered(spark, n=4000))
    rep: dict = {}
    got = S.snapshot_read_point(spark, tbl, "parent_id", [5, 3999], report=rep)
    assert got.count() == 2
    # clustered on v == clustered on id here, so min/max prunes too
    assert rep["files_skipped"] > 0


def test_vacuum_removes_dead_sidecars(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    S.snapshot_merge_upsert(spark, tbl, _clustered(spark, n=500))
    S.snapshot_optimize(spark, tbl)
    fs, d = S._hfs(spark, f"{tbl}/{S._STATS_DIR}")
    assert len(list(fs.listStatus(d))) == 2
    S.snapshot_vacuum(spark, tbl)
    live = [st.getPath().getName() for st in fs.listStatus(d)]
    cur = S._current_gen(spark, tbl)
    ref = set(S._read_manifest(spark, tbl, cur)["partitions"].values())
    assert live == [f"{g}.json" for g in sorted(ref)]
    # pruned reads still work post-vacuum
    assert S.snapshot_read_where(spark, tbl, {"v": (0, 30)}).count() == 11


def test_unsupported_stats_type_fails_fast(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["arr"])
    bad = spark.range(10).select(
        F.col("id").alias("parent_id"), F.array(F.col("id")).alias("arr")
    )
    with pytest.raises(TypeError, match="unsupported type"):
        S.snapshot_merge_upsert(spark, tbl, bad)


@pytest.mark.slow
def test_web_corpus_snapshot_sink_with_stats(spark, tmp_path):
    """Composition: the streaming web-corpus loop with
    corpus_stats_cols/_bloom_key enables
    write-time stats on the FIRST admitting batch; every later commit
    (including the generation-fold trigger's optimize) carries
    sidecars, so curation range reads and doc-id lookups prune."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_streaming_web_corpus,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path)
    for i in range(3):
        batch = [
            {
                "doc_id": 100 * i + j,
                "url": f"https://d{j}.example/p{100 * i + j}",
                "text": f"page body number {100 * i + j} " * (10 + j),
            }
            for j in range(4)
        ]
        (landing / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in batch)
        )
        run_streaming_web_corpus(
            spark, str(landing), f"{root}/corpus", f"{root}/shards",
            f"{root}/audit", f"{root}/ckpt", min_chars=10,
            corpus_max_files=2,
            corpus_stats_cols=["n_tokens"], corpus_bloom_key=True,
        )
    full = S.read_snapshot_table(spark, f"{root}/corpus")
    assert full.count() == 12
    # range read over the stats column: equality + sidecars present
    rep: dict = {}
    got = S.snapshot_read_where(
        spark, f"{root}/corpus", {"n_tokens": (0, 10**9)}, report=rep
    )
    assert got.count() == 12
    assert rep["unpruned_gens"] == 0  # every commit carried stats
    # bloom point lookup on the id column
    rep2: dict = {}
    hit = S.snapshot_read_point(
        spark, f"{root}/corpus", "doc_id", [203], report=rep2
    )
    assert hit.count() == 1
    assert rep2["unpruned_gens"] == 0


@pytest.mark.slow
def test_compact_partitions_selective(spark, tmp_path):
    """Partition-selective OPTIMIZE: only fragmented partitions are
    rewritten; every other partition keeps its generation mapping
    (immutable files — provably untouched), content is unchanged, and
    the compacted partitions' live file counts drop."""
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    # 6 merges, each touching bucket 0 and 1 -> those fragment
    for i in range(6):
        inc = spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("parent_id"),
            (F.col("id") % 2).cast("int").alias("bucket"),
            (F.col("id") * 3).alias("v"),
        )
        S.snapshot_merge_upsert(
            spark, tbl, inc, partition_cols=["bucket"]
        )
    # one quiet partition that never fragments
    quiet = spark.range(10_000, 10_050).select(
        F.col("id").alias("parent_id"),
        F.lit(9).cast("int").alias("bucket"),
        (F.col("id") * 3).alias("v"),
    ).coalesce(1)
    S.snapshot_merge_upsert(spark, tbl, quiet, partition_cols=["bucket"])
    before = _rows(S.read_snapshot_table(spark, tbl))
    cur = S._current_gen(spark, tbl)
    man_before = S._read_manifest(spark, tbl, cur)["partitions"]

    rep = S.snapshot_compact_partitions(
        spark, tbl, ["bucket"], max_files_per_partition=2
    )
    assert sorted(rep["compacted"]) == ["bucket=0", "bucket=1"]
    assert rep["files_before"] > 4
    man_after = S._read_manifest(
        spark, tbl, rep["committed_gen"]
    )["partitions"]
    # quiet partition's mapping carried forward verbatim
    assert man_after["bucket=9"] == man_before["bucket=9"]
    assert man_after["bucket=0"] != man_before["bucket=0"]
    assert _rows(S.read_snapshot_table(spark, tbl)) == before
    # compacted partitions now under the file bound
    rep2 = S.snapshot_compact_partitions(
        spark, tbl, ["bucket"], max_files_per_partition=2
    )
    assert rep2["compacted"] == [] and rep2["committed_gen"] == rep[
        "committed_gen"
    ]
    # pruned reads still correct after selective compaction
    got = S.snapshot_read_where(spark, tbl, {"v": (0, 600)})
    want = [t for t in before if 0 <= t[1] <= 600]  # (id, v, bucket)
    assert _rows(got) == sorted(want)


def test_compact_partitions_explicit_rels_and_zorder(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    for i in range(3):
        S.snapshot_merge_upsert(
            spark, tbl,
            _clustered(spark, n=300).withColumn(
                "parent_id", F.col("parent_id") + i * 1000
            ),
            partition_cols=["bucket"],
        )
    before = _rows(S.read_snapshot_table(spark, tbl))
    rep = S.snapshot_compact_partitions(
        spark, tbl, ["bucket"], rels=["bucket=2"], zorder_cols=["v"]
    )
    assert rep["compacted"] == ["bucket=2"]
    assert _rows(S.read_snapshot_table(spark, tbl)) == before
    with pytest.raises(ValueError, match="unknown partitions"):
        S.snapshot_compact_partitions(
            spark, tbl, ["bucket"], rels=["bucket=77"]
        )


def test_metadata_count(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    g1 = S.snapshot_merge_upsert(
        spark, tbl, _clustered(spark, n=1200), partition_cols=["bucket"]
    )
    S.snapshot_merge_upsert(
        spark, tbl,
        _clustered(spark, n=200).withColumn(
            "parent_id", F.col("parent_id") + 5000
        ),
        partition_cols=["bucket"],
    )
    got = S.snapshot_metadata_count(spark, tbl)
    assert got == S.read_snapshot_table(spark, tbl).count() == 1400
    assert S.snapshot_metadata_count(spark, tbl, at_gen=g1) == 1200
    # a table without stats: None (caller must scan)
    tbl2 = str(tmp_path / "u")
    S.snapshot_merge_upsert(spark, tbl2, _clustered(spark, n=50))
    assert S.snapshot_metadata_count(spark, tbl2) is None


def test_streaming_ingest_snapshot_sink(spark, tmp_path):
    """run_incremental_ingest on the snapshot table: micro-batch merges
    commit through the manifest pointer, the generation trigger folds,
    stats sidecars ride every commit, and replays stay idempotent."""
    import json

    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path)
    for i in range(3):
        docs = [
            {
                "doc_id": 10 * i + j,
                "text": f"streamed document body {10 * i + j} " * 12,
                "source": f"s{j % 2}",
            }
            for j in range(4)
        ]
        (landing / f"b{i}.json").write_text(
            "\n".join(json.dumps(d) for d in docs)
        )
        run_incremental_ingest(
            spark, str(landing), f"{root}/chunks", f"{root}/ckpt",
            partition_cols=["source"],
            max_generations=2, stats_cols=["length"],
        )
    tbl = S.read_snapshot_table(spark, f"{root}/chunks")
    assert tbl.select("parent_id").distinct().count() == 12
    rep: dict = {}
    got = S.snapshot_read_where(
        spark, f"{root}/chunks", {"length": (0, 10**6)}, report=rep
    )
    assert got.count() == tbl.count()
    assert rep["unpruned_gens"] == 0  # every commit carried stats
    import os

    gens = [
        d for d in os.listdir(f"{root}/chunks") if d.startswith("gen-")
    ]
    assert len(gens) <= 2  # fold trigger engaged


def test_partition_pruning_in_metadata_read(spark, tmp_path):
    """A range on a PARTITION column drops whole directories
    driver-side before any file is selected — with stats (files of
    pruned partitions never counted as read) and without (surviving
    dirs read wholesale); NULL partitions are skippable; string
    coercion failures stay conservative."""
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    base = _clustered(spark, n=2000)
    S.snapshot_merge_upsert(spark, tbl, base, partition_cols=["bucket"])
    full = S.read_snapshot_table(spark, tbl)
    rep: dict = {}
    got = S.snapshot_read_where(spark, tbl, {"bucket": (1, 2)}, report=rep)
    want = full.filter((F.col("bucket") >= 1) & (F.col("bucket") <= 2))
    assert _rows(got) == _rows(want)
    assert rep["pruned_partitions"] == 2  # buckets 0 and 3 dropped
    # composed: partition range AND data range prune together
    rep2: dict = {}
    got2 = S.snapshot_read_where(
        spark, tbl, {"bucket": (1, 1), "v": (0, 600)}, report=rep2
    )
    want2 = full.filter(
        (F.col("bucket") == 1) & (F.col("v") >= 0) & (F.col("v") <= 600)
    )
    assert _rows(got2) == _rows(want2)
    assert rep2["pruned_partitions"] == 3
    assert rep2["files_skipped"] > 0

    # no-stats table: surviving dirs are read wholesale, still correct
    tbl2 = str(tmp_path / "u")
    S.snapshot_merge_upsert(
        spark, tbl2, _clustered(spark, n=500), partition_cols=["bucket"]
    )
    rep3: dict = {}
    got3 = S.snapshot_read_where(
        spark, tbl2, {"bucket": (2, 3)}, report=rep3
    )
    assert _rows(got3) == _rows(
        S.read_snapshot_table(spark, tbl2).filter(
            (F.col("bucket") >= 2) & (F.col("bucket") <= 3)
        )
    )
    assert rep3["pruned_partitions"] == 2 and rep3["unpruned_gens"] == 1

    # NULL partition value: range-pruned (null-rejecting)
    tbl3 = str(tmp_path / "w")
    withnull = spark.range(100).select(
        F.col("id").alias("parent_id"),
        F.when(F.col("id") < 50, (F.col("id") % 2).cast("int")).alias(
            "bucket"
        ),
        (F.col("id") * 3).alias("v"),
    )
    S.snapshot_merge_upsert(spark, tbl3, withnull, partition_cols=["bucket"])
    got4 = S.snapshot_read_where(spark, tbl3, {"bucket": (0, 9)})
    assert got4.count() == 50  # NULL-bucket rows excluded


# -- property: pruning is invisible to results, for ANY range ----------------

_PTBL: dict = {}


def _prop_table(spark, tmp_path_factory):
    if "t" not in _PTBL:
        tbl = str(tmp_path_factory.mktemp("skipprop") / "t")
        S.snapshot_enable_stats(spark, tbl, cols=["v", "s"])
        S.snapshot_merge_upsert(
            spark, tbl, _clustered(spark, n=3000), partition_cols=["bucket"]
        )
        # a second generation + some DV deletes so the property spans
        # multi-gen manifests and merge-on-read state
        S.snapshot_merge_upsert(
            spark, tbl,
            spark.range(3000, 3400).select(
                F.col("id").alias("parent_id"),
                (F.col("id") % 4).cast("int").alias("bucket"),
                (F.col("id") * 3).alias("v"),
                F.lit("sx").alias("s"),
            ),
            partition_cols=["bucket"],
        )
        S.snapshot_delete_keys(
            spark, tbl,
            spark.range(0, 3400, 11).select(F.col("id").alias("parent_id")),
            partition_cols=["bucket"], mode="dv",
        )
        _PTBL["t"] = tbl
        _PTBL["full"] = S.read_snapshot_table(spark, tbl).cache()
        _PTBL["full"].count()
    return _PTBL["t"], _PTBL["full"]


@pytest.mark.slow
def test_pruned_read_equals_filter_property(spark, tmp_path_factory):
    """For ANY conjunction of ranges over data, string, and partition
    columns — open, empty, inverted, or out-of-domain — the pruned
    read equals the plain filter over a multi-generation, DV-carrying
    table.  hypothesis drives the ranges; pruning must be invisible."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    tbl, full = _prop_table(spark, tmp_path_factory)

    bound = st.one_of(st.none(), st.integers(-1000, 12000))
    sbound = st.one_of(st.none(), st.sampled_from(
        ["", "s0", "s12", "s16", "s5", "sx", "zz"]
    ))
    pbound = st.one_of(st.none(), st.integers(-1, 5))

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(vlo=bound, vhi=bound, slo=sbound, shi=sbound,
           plo=pbound, phi=pbound)
    def _prop(vlo, vhi, slo, shi, plo, phi):
        ranges = {"v": (vlo, vhi), "s": (slo, shi), "bucket": (plo, phi)}
        got = S.snapshot_read_where(spark, tbl, ranges)
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        want = full.filter(cond)
        assert _rows(got) == _rows(want)

    _prop()


def test_clone_reads_prune_via_source_sidecars(spark, tmp_path):
    """SHALLOW-CLONE reads borrow the SOURCE's stats sidecars for the
    still-shared generations (r12, ``_find_stats_sidecar``): sidecars
    are written before commit and immutable after, so a pruned read on
    the clone skips files without localizing anything — and equals the
    unpruned read exactly."""
    src = str(tmp_path / "src")
    S.snapshot_enable_stats(spark, src, cols=["v", "s"])
    S.snapshot_merge_upsert(spark, src, _clustered(spark))
    clone = str(tmp_path / "clone")
    S.snapshot_clone(spark, src, clone)
    rep: dict = {}
    got = S.snapshot_read_where(spark, clone, {"v": (600, 900)}, report=rep)
    want = S.read_snapshot_table(spark, clone).filter(
        (F.col("v") >= 600) & (F.col("v") <= 900)
    )
    cols = ["parent_id", "bucket", "v", "s"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))
    assert rep["files_skipped"] > 0, rep
    assert rep["unpruned_gens"] == 0, rep
    # divergence: a clone-local merge writes its own sidecar (the
    # stats config traveled with the clone) and stays pruned too
    S.snapshot_merge_upsert(
        spark, clone,
        spark.createDataFrame(
            [(100_000, 1, 750, "s1")],
            "parent_id long, bucket int, v long, s string",
        ),
    )
    rep2: dict = {}
    got2 = S.snapshot_read_where(spark, clone, {"v": (600, 900)}, report=rep2)
    assert rep2["unpruned_gens"] == 0, rep2
    assert got2.filter(F.col("parent_id") == 100_000).count() == 1


@pytest.mark.parametrize("partitioned", [False, True])
def test_empty_selection_runs_no_job(spark, tmp_path, partitioned):
    """A range every file's stats exclude selects nothing: the read is
    zero rows of the table's schema, built from the manifest without a
    Spark job (no per-generation read is built to borrow a schema).
    Its schema is the one a non-empty read reports, nullability and a
    nested type's included."""
    tbl = str(tmp_path / "t")
    pc = ["bucket"] if partitioned else None

    def rows(n):  # every column non-null as written
        return _clustered(spark, n, 2).withColumn("a", F.array("v"))

    S.snapshot_enable_stats(spark, tbl, cols=["v"])
    sc = spark.sparkContext
    group = "empty-read-where"
    # the first manifest stores the written frame's schema, the second
    # a merged read's
    for batch in (rows(400), rows(800).filter(F.col("parent_id") >= 400)):
        S.snapshot_merge_upsert(spark, tbl, batch, partition_cols=pc)
        sc.setJobGroup(group, "empty-selection snapshot_read_where", False)
        try:
            rep: dict = {}
            got = S.snapshot_read_where(
                spark, tbl, {"v": (10**9, None)}, report=rep
            )
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("", "", False)
        assert rep["files_read"] == 0 and rep["files_total"] > 0, rep
        assert jobs == [], f"an empty selection ran {len(jobs)} Spark job(s)"
        assert got.count() == 0
        assert got.schema == S.read_snapshot_table(spark, tbl).schema
