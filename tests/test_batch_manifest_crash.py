"""One crash suite for the batch-manifest protocol
(operators/batch_manifest, which commits through the snapshot table's
``_commit``) over the six stores that use it: the BM25 text index, the
dedup sidecar, the IVF and IVFPQ indexes, the dashboard rollup (its
staged tick in the ingest job, its change-feed tick in the maintenance
sweep, and its bootstrap) and the streaming sketch table (one
micro-batch merge).

Every write op of every store is killed at each of the commit's
crash legs:

- ``before_claim``: the op's batch dirs are written, no claim taken;
- ``after_claim``: the generation is claimed, then the commit aborts
  by a raise before its pointer write — the claim is released at once;
- ``orphan_claim``: a hard crash right after the claim, so no cleanup
  runs; the orphan claim is aged past ``CLAIM_LEASE_MS`` (``os.utime``)
  before the replay, as recovery prunes only a stale claim;
- ``pointer_tmp``: the pointer tmp is written and ``_current``
  deleted, the rename never happens — the op counts as committed.

Each case asserts that (1) answers equal the last committed state
(the old one for the first three legs, the op's result for the
fourth), (2) a reader mutates nothing on disk, and (3) replaying the
op converges to an uncrashed twin and, once the lease has aged, the
batch dirs on disk are exactly the current manifest's.  Base stores
and uncrashed twins are built once per module and copied per case.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import pytest

from gpt_rag_ingestion_spark.operators import batch_manifest as bm
from gpt_rag_ingestion_spark.operators import dedup as D
from gpt_rag_ingestion_spark.operators import incremental as I
from gpt_rag_ingestion_spark.operators import search as X
from gpt_rag_ingestion_spark.operators import similarity as S
from gpt_rag_ingestion_spark.operators import snapshot_table as ST
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
from gpt_rag_ingestion_spark.streaming import micro_batch as MB

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------ text index
TEXT_BASE = [
    (1, "apple banana cherry"), (2, "banana cherry date"),
    (3, "cherry date egg"), (4, "apple egg fig"),
    (5, "fig grape apple apple"),
]


def _text_setup(spark, root):
    X.text_index_build(_rows(spark, TEXT_BASE), root)
    X.text_index_append(
        _rows(spark, [(2, "stone stone tree banana"), (6, "dog fish apple")]),
        root, "b1",
    )


def _text_query(spark, root):
    q = spark.createDataFrame(
        [("q1", ["apple", "cherry"]), ("q2", ["banana", "fig"]),
         ("q3", ["kiwi", "stone"])],
        "query_id string, terms array<string>",
    )
    return sorted(tuple(r) for r in X.text_index_query(spark, root, q, k=5).collect())


TEXT_OPS = {
    "build": lambda spark, root: X.text_index_build(
        _rows(spark, TEXT_BASE + [(7, "apple kiwi")]), root
    ),
    "apply": lambda spark, root: X.text_index_apply(
        _rows(spark, [(3, "kiwi apple cherry")]),
        spark.createDataFrame([(1,), (3,)], "doc_id long"), root, "t1",
    ),
    "delete": lambda spark, root: X.text_index_delete(
        spark, root, spark.createDataFrame([(4,)], "doc_id long"), "p1"
    ),
    "compact": lambda spark, root: X.text_index_compact(spark, root),
}

# ---------------------------------------------------------- dedup sidecar
_W = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(i, shift=0):
    return " ".join(_W[(i + shift + k) % len(_W)] for k in range(8)) + f" tail{i}"


SIDE_BASE = [(i, _doc(i)) for i in range(1, 7)]


def _side_setup(spark, root):
    D.dedup_sidecar_build(_rows(spark, SIDE_BASE), root)
    D.dedup_sidecar_append(
        _rows(spark, [(1, "one two three four five six"), (7, _doc(7, 3))]),
        root, "b1",
    )


def _side_query(spark, root):
    probe = _rows(spark, [
        (100, _doc(2)), (101, _doc(1)), (102, "one two three four five six"),
        (103, _doc(3) + " extra"), (104, "nothing alike here at all"),
        (105, _doc(8, 1)),
    ])
    return sorted(tuple(r) for r in D.incremental_dedup_sidecar(probe, root).collect())


SIDE_OPS = {
    "build": lambda spark, root: D.dedup_sidecar_build(
        _rows(spark, SIDE_BASE + [(8, _doc(8, 1))]), root
    ),
    "append": lambda spark, root: D.dedup_sidecar_append(
        _rows(spark, [(2, "seven eight nine ten"), (8, _doc(8, 1))]), root, "b2"
    ),
    "compact": lambda spark, root: D.dedup_sidecar_compact(spark, root),
}


# ------------------------------------------------------------ IVF / IVFPQ
def _emb(spark, pred):
    return spark.read.parquet(EMB).filter(pred).select("vec_id", "embedding")


def _ivf_setup(spark, root):
    S.ivf_index_build(_emb(spark, "vec_id < 160"), root, n_centroids=4)
    S.ivf_index_append(_emb(spark, "vec_id >= 160 AND vec_id < 200"), root, "b1")


def _ivf_query(spark, root):
    q = _emb(spark, "vec_id < 6")
    return sorted(
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in S.ivf_index_query(spark, root, q, n_probe=4, k=3).collect()
    )


IVF_OPS = {
    "build": lambda spark, root: S.ivf_index_build(
        _emb(spark, "vec_id < 200"), root, n_centroids=4
    ),
    "append": lambda spark, root: S.ivf_index_append(
        _emb(spark, "vec_id >= 200 AND vec_id < 240"), root, "b2"
    ),
    "compact": lambda spark, root: S.ivf_index_compact(spark, root),
}


def _ivfpq_setup(spark, root):
    S.ivfpq_index_build(
        _emb(spark, "vec_id < 160"), root, n_cells=4, pq_centroids=16
    )
    S.ivfpq_index_append(_emb(spark, "vec_id >= 160 AND vec_id < 200"), root, "b1")


def _ivfpq_query(spark, root):
    q = _emb(spark, "vec_id < 6")
    return sorted(
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in S.ivfpq_index_query(spark, root, q, n_probe=4, k=3).collect()
    )


IVFPQ_OPS = {
    "build": lambda spark, root: S.ivfpq_index_build(
        _emb(spark, "vec_id < 200"), root, n_cells=4, pq_centroids=16
    ),
    "append": lambda spark, root: S.ivfpq_index_append(
        _emb(spark, "vec_id >= 200 AND vec_id < 240"), root, "b2"
    ),
    "compact": lambda spark, root: S.ivfpq_index_compact(spark, root),
}


# ---------------------------------------------------------------- rollup
# <root>/table is the chunks table, <root>/rollup its rollup.  The base
# rollup is level with the table; each op moves the table to ROLL_V2
# and the rollup after it, so a replay finds no candidates left.
ROLL_V1 = [("d1", "alpha " * 40, 1), ("d2", "beta " * 40, 1),
           ("d3", "gamma " * 30, 1)]
ROLL_V2 = [("d1", "delta " * 70, 2), ("d2", "beta " * 40, 1),
           ("d3", "gamma " * 30, 1), ("d4", "omega " * 25, 2)]


def _ingest(spark, root, rows, rollup=True):
    docs = spark.createDataFrame(
        [(k, t, dt.datetime(2024, 1, d)) for k, t, d in rows],
        "doc_key string, text string, last_modified timestamp",
    )
    run_ingest_job(
        spark, docs, f"{root}/table", "run",
        rollup_path=f"{root}/rollup" if rollup else None,
        max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8,
    )


def _roll_setup(spark, root):
    _ingest(spark, root, ROLL_V1)


def _roll_query(spark, root):
    return sorted(
        tuple(r) for r in bm.read_store(spark, f"{root}/rollup", I.ROLLUP).collect()
    )


ROLL_OPS = {
    # the ingest job's staged tick: written before the merge, committed
    # after it
    "stage": lambda spark, root: _ingest(spark, root, ROLL_V2),
    # a run without the rollup, then the maintenance sweep's
    # change-feed tick
    "cdf": lambda spark, root: (
        _ingest(spark, root, ROLL_V2, rollup=False),
        I.maintain_snapshot_rollup(spark, f"{root}/table", f"{root}/rollup"),
    ),
    # a run without the rollup, then a run with it and no candidates:
    # the rollup is behind and is recomputed from the table
    "bootstrap": lambda spark, root: (
        _ingest(spark, root, ROLL_V2, rollup=False),
        _ingest(spark, root, ROLL_V2),
    ),
}


# ---------------------------------------------------------------- sketch
def _land(d, lo, hi):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"b{lo}.json"), "w") as fh:
        fh.write("\n".join(
            json.dumps({"event_id": i, "event_type": f"t{i % 2}",
                        "value": (i * 7) % 500})
            for i in range(lo, hi)
        ))


def _sketch_setup(spark, root):
    # each stream's landing zone and checkpoint live under the root, so
    # a copied root is a consistent stream state
    _land(f"{root}/land1", 0, 300)
    MB.run_incremental_sketch(
        spark, f"{root}/land1", f"{root}/sketch", f"{root}/ck1"
    )
    _land(f"{root}/land2", 300, 500)


def _sketch_query(spark, root):
    return sorted(
        tuple(r) for r in bm.read_store(spark, f"{root}/sketch", MB.SKETCH).collect()
    )


SKETCH_OPS = {
    "merge": lambda spark, root: MB.run_incremental_sketch(
        spark, f"{root}/land2", f"{root}/sketch", f"{root}/ck2"
    ),
}

# store -> (setup, query, ops, layout, the store's dir under the root)
STORES = {
    "text_index": (_text_setup, _text_query, TEXT_OPS, X.TEXT_INDEX, ""),
    "sidecar": (_side_setup, _side_query, SIDE_OPS, D.SIDECAR, ""),
    "ivf": (_ivf_setup, _ivf_query, IVF_OPS, S.IVF_INDEX, ""),
    "ivfpq": (_ivfpq_setup, _ivfpq_query, IVFPQ_OPS, S.IVFPQ_INDEX, ""),
    "rollup": (_roll_setup, _roll_query, ROLL_OPS, I.ROLLUP, "rollup"),
    "sketch": (_sketch_setup, _sketch_query, SKETCH_OPS, MB.SKETCH, "sketch"),
}

CRASH_POINTS = ("before_claim", "after_claim", "orphan_claim", "pointer_tmp")

# The default lane runs the text index's apply at three legs (old state
# kept with the claim released, old state kept behind an orphan claim,
# staged state committed); every other case runs in the slow lane
# (about 15 s each).
_FAST = {("text_index", "apply", "after_claim"),
         ("text_index", "apply", "orphan_claim"),
         ("text_index", "apply", "pointer_tmp")}
CASES = [
    pytest.param(
        store, op, point,
        marks=() if (store, op, point) in _FAST else pytest.mark.slow,
        id=f"{store}-{op}-{point}",
    )
    for store, (_s, _q, ops, _l, _r) in STORES.items()
    for op in ops
    for point in CRASH_POINTS
]


class _Crash(RuntimeError):
    pass


def _inject(m, point, sroot):
    """Patch the snapshot table's commit primitives so that the commit
    of the store at ``sroot`` dies at ``point``; every other path (the
    rollup's chunks table commits through the same code) is untouched."""
    claims = f"{sroot}/_manifests/"

    def hook(name, fires, before=None):
        real = getattr(ST, name)

        def wrapped(spark, path, *a, **kw):
            if fires(path):
                if before:
                    before()
                raise _Crash("injected crash")
            return real(spark, path, *a, **kw)

        m.setattr(ST, name, wrapped)

    if point == "before_claim":
        hook("_write_text_exclusive", lambda p: p.startswith(claims))
    elif point == "after_claim":
        hook("_write_text", lambda p: p == f"{sroot}/_current__tmp")
    elif point == "orphan_claim":  # outside _commit's abort cleanup
        hook("_start_claim_heartbeat", lambda p: p.startswith(claims))
    else:  # the process dies between the pointer delete and rename
        hook("_swap_pointer", lambda p: p == sroot,
             lambda: os.remove(f"{sroot}/_current"))


def _claims_above(sroot, gen):
    return [
        f for f in os.listdir(f"{sroot}/_manifests")
        if f.endswith(".json") and int(f[:-5]) > gen
    ]


def _age(sroot, names):
    """Age the manifests ``names`` past ``CLAIM_LEASE_MS``."""
    old = dt.datetime.now().timestamp() - ST.CLAIM_LEASE_MS / 1000 - 60
    for f in names:
        os.utime(f"{sroot}/_manifests/{f}", (old, old))


def _listed_on_disk(spark, sroot, layout):
    """(batch dirs on disk, batches the current manifest lists) per sub."""
    meta = bm.read_meta(spark, sroot, layout)
    return [
        (sub, sorted(
            n[len("batch="):] for n in os.listdir(f"{sroot}/{sub}")
            if n.startswith("batch=")
        ), meta["batches"][sub])
        for sub in layout.subs
    ]


def _tree(root):
    """Every file under ``root`` with its size: a reader's footprint."""
    out = []
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out.append((os.path.relpath(p, root), os.path.getsize(p)))
    return sorted(out)


@pytest.fixture(scope="module")
def base_stores(spark, tmp_path_factory):
    """One base store per family, and per (store, op) the answers of an
    uncrashed twin after the op — built lazily, shared by every case."""
    work = tmp_path_factory.mktemp("manifest-crash")
    built, twins = {}, {}

    def base(store):
        if store not in built:
            root = str(work / f"base-{store}")
            STORES[store][0](spark, root)
            built[store] = (root, STORES[store][1](spark, root))
        return built[store]

    def twin(store, op):
        if (store, op) not in twins:
            root = str(work / f"twin-{store}-{op}")
            shutil.copytree(base(store)[0], root)
            STORES[store][2][op](spark, root)
            twins[(store, op)] = STORES[store][1](spark, root)
        return twins[(store, op)]

    return base, twin


@pytest.mark.parametrize("store,op,point", CASES)
def test_crash_leaves_committed_state_and_replay_converges(
    spark, tmp_path, monkeypatch, base_stores, collect_aged, store, op, point
):
    base, twin = base_stores
    _setup, query, ops, layout, rel = STORES[store]
    base_root, before = base(store)
    after = twin(store, op)

    root = str(tmp_path / store)
    shutil.copytree(base_root, root)
    sroot = os.path.join(root, rel) if rel else root
    committed = bm.read_meta(spark, sroot, layout)["gen"]
    with monkeypatch.context() as m:
        _inject(m, point, sroot)
        # a crash inside a micro-batch reaches the caller wrapped in
        # the streaming query's failure
        with pytest.raises(Exception, match="injected crash"):
            ops[op](spark, root)
    orphans = _claims_above(sroot, committed)
    if point == "pointer_tmp":
        assert not os.path.exists(f"{sroot}/_current")
        assert os.path.exists(f"{sroot}/_current__tmp")
    else:
        assert orphans == ([f"{committed + 1:08d}.json"]
                           if point == "orphan_claim" else [])

    # answers equal the last committed state; the reader (and the
    # existence check) leave every file as it was
    footprint = _tree(sroot)
    assert bm.exists(spark, sroot, layout)
    assert query(spark, root) == (after if point == "pointer_tmp" else before)
    assert _tree(sroot) == footprint

    # the replay converges to the uncrashed twin; once the lease has
    # aged, recovery leaves exactly the listed batch dirs
    if point == "orphan_claim":
        _age(sroot, orphans)
    ops[op](spark, root)
    assert query(spark, root) == after
    assert not os.path.exists(f"{sroot}/_current__tmp")
    collect_aged(sroot, layout)
    for sub, on_disk, listed in _listed_on_disk(spark, sroot, layout):
        assert on_disk == listed, sub
    assert query(spark, root) == after


def _touch(root, *rels):
    for rel in rels:
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(b"PAR1")


OLD_LAYOUTS = {
    # the sidecar's parquet meta directory and per-label batch dirs
    "sidecar": (
        D.SIDECAR,
        ("meta/part-00000.parquet", "digests/batch=build/part-00000.parquet"),
        lambda spark, root: D.incremental_dedup_sidecar(
            _rows(spark, [(1, "a b c d")]), root
        ),
        lambda spark, root: D.dedup_sidecar_build(_rows(spark, SIDE_BASE), root),
    ),
    # IVF: bare centroids/postings/stats/baseline, no JSON manifest
    "ivf": (
        S.IVF_INDEX,
        ("centroids/part-00000.parquet",
         "postings/batch=build/cell=0/part-00000.parquet",
         "stats/batch=build/part-00000.parquet", "baseline/part-00000.parquet"),
        lambda spark, root: S.ivf_index_query(spark, root, _emb(spark, "vec_id < 2")),
        lambda spark, root: S.ivf_index_build(
            _emb(spark, "vec_id < 40"), root, n_centroids=2
        ),
    ),
    "ivfpq": (
        S.IVFPQ_INDEX,
        ("centroids/part-00000.parquet", "codebooks/part-00000.parquet",
         "postings/batch=build/cell=0/part-00000.parquet"),
        lambda spark, root: S.ivfpq_index_append(_emb(spark, "vec_id < 2"), root),
        lambda spark, root: S.ivfpq_index_build(
            _emb(spark, "vec_id < 40"), root, n_cells=2, pq_centroids=8
        ),
    ),
}


@pytest.mark.parametrize("store", sorted(OLD_LAYOUTS))
def test_old_layout_is_refused_until_rebuilt(spark, tmp_path, store):
    """A store in its pre-manifest layout is refused — by the jobs'
    existence check and by every reader and writer — with a ValueError
    naming the build to re-run, and nothing on disk changes.  Only
    that build replaces it."""
    layout, files, use, build = OLD_LAYOUTS[store]
    root = str(tmp_path / store)
    _touch(root, *files)
    before = _tree(root)
    with pytest.raises(ValueError, match=layout.build):
        bm.exists(spark, root, layout)
    with pytest.raises(ValueError, match=layout.build):
        use(spark, root)
    assert _tree(root) == before

    build(spark, root)
    assert bm.exists(spark, root, layout)
    meta = bm.read_meta(spark, root, layout)
    assert sorted(n for n in os.listdir(root) if not n.startswith(".")) == sorted(
        ["_current", "_manifests", "meta", *layout.subs]
    )
    assert all(len(meta["batches"][sub]) == 1 for sub in layout.subs)


def test_old_layout_sketch_is_refused_and_rollup_rebuilt(spark, tmp_path):
    """The former directory swap wrote parquet files at the store's
    root.  Such a sketch is refused before its stream consumes any
    input and stays as it was: the checkpoint has already consumed
    what it counted, so starting over would restart the counts.  Such
    a rollup is derived data: the bootstrap clears it and commits a
    recompute from the table."""
    sketch = str(tmp_path / "sketch")
    _touch(sketch, "part-00000.parquet", "_SUCCESS")
    before = _tree(sketch)
    with pytest.raises(ValueError, match="pre-manifest"):
        bm.exists(spark, sketch, MB.SKETCH)
    _land(str(tmp_path / "land"), 0, 10)
    with pytest.raises(ValueError, match="pre-manifest"):
        MB.run_incremental_sketch(
            spark, str(tmp_path / "land"), sketch, str(tmp_path / "ck")
        )
    assert _tree(sketch) == before
    assert not os.path.exists(tmp_path / "ck")

    table, roll = str(tmp_path / "table"), str(tmp_path / "rollup")
    ST.snapshot_merge_upsert(spark, table, spark.createDataFrame(
        [("p1", "ab", "c1"), ("p1", "cde", "c2"), ("p2", "f", "c3")],
        "parent_id string, content string, id string",
    ), key="id")
    _touch(roll, "part-00000.parquet", "_applied_gen")
    out = I.maintain_snapshot_rollup(spark, table, roll)
    assert out["mode"] == "bootstrap"
    assert sorted(n for n in os.listdir(roll) if not n.startswith(".")) == [
        "_current", "_manifests", "meta", "rows",
    ]
    assert sorted(
        tuple(r) for r in bm.read_store(spark, roll, I.ROLLUP).collect()
    ) == [("p1", 2, 5), ("p2", 1, 1)]


def _text_frame(spark, root):
    q = spark.createDataFrame(
        [("q1", ["apple", "cherry"]), ("q2", ["banana", "stone"])],
        "query_id string, terms array<string>",
    )
    return X.text_index_query(spark, root, q, k=5)


#: store -> (the op that commits next, a reader frame over the store)
_READERS = {
    "text_index": ("compact", _text_frame),
    "rollup": ("stage", lambda spark, root: bm.read_store(
        spark, f"{root}/rollup", I.ROLLUP
    )),
}


@pytest.mark.parametrize("store", sorted(_READERS))
def test_reader_frame_survives_the_next_commit(
    spark, tmp_path, base_stores, store
):
    """A reader's frame lists files when it is built and reads them when
    it runs.  No commit deletes a file: a ``text_index_query`` frame
    built before a compaction, and a rollup ``read_store`` frame built
    before the next ``commit_whole``, each collect the answer of the
    manifest they resolved after that commit."""
    base, _twin = base_stores
    op, frame = _READERS[store]
    root = str(tmp_path / store)
    shutil.copytree(base(store)[0], root)
    df = frame(spark, root)
    want = sorted(tuple(r) for r in frame(spark, root).collect())
    STORES[store][2][op](spark, root)
    assert sorted(tuple(r) for r in df.collect()) == want


#: the store op whose write a single-file store takes next
_NEXT = {"text_index": "apply", "sidecar": "append", "ivf": "append",
         "ivfpq": "append", "rollup": "stage", "sketch": "merge"}


@pytest.mark.parametrize("store,variant", [
    pytest.param(
        store, variant,
        marks=() if store == "text_index" else pytest.mark.slow,
        id=f"{store}-{variant}",
    )
    for store in STORES for variant in ("meta", "meta__staging")
])
def test_single_file_layout_reads_and_takes_next_write(
    spark, tmp_path, base_stores, store, variant
):
    """A store in the earlier single-file layout (its committed manifest
    as ``meta``, or only ``meta__staging`` after a commit cut between
    the meta delete and rename, next to ``claims/``; no ``_current``,
    no ``_manifests``) reads as its generation without any file
    changing, and its next write commits at gen + 1 — no rebuild."""
    base, twin = base_stores
    _setup, query, ops, layout, rel = STORES[store]
    base_root, before = base(store)
    after = twin(store, _NEXT[store])
    root = str(tmp_path / store)
    shutil.copytree(base_root, root)
    sroot = os.path.join(root, rel) if rel else root
    body = bm.read_meta(spark, sroot, layout)
    shutil.rmtree(f"{sroot}/_manifests")
    for f in ("_current", "meta", "._current.crc", ".meta.crc"):
        os.remove(f"{sroot}/{f}")
    with open(f"{sroot}/{variant}", "w") as fh:
        json.dump(body, fh)
    _touch(sroot, f"claims/g{body['gen']:08d}")

    footprint = _tree(sroot)
    assert bm.exists(spark, sroot, layout)
    assert bm.read_meta(spark, sroot, layout) == body
    assert query(spark, root) == before
    assert _tree(sroot) == footprint

    ops[_NEXT[store]](spark, root)
    assert query(spark, root) == after
    assert bm.read_meta(spark, sroot, layout)["gen"] == body["gen"] + 1
    assert not os.path.exists(f"{sroot}/claims")
    assert not os.path.exists(f"{sroot}/meta__staging")


#: Spark jobs each write op runs, as measured under the former
#: single-file commit: the commit itself is driver-side file calls, so
#: the protocol adds none.  Compaction of the text index reads its two
#: written batches back with known schemas (2 fewer than the 12 then).
WRITE_JOBS = {
    ("text_index", "build"): 7, ("text_index", "apply"): 12,
    ("text_index", "delete"): 5, ("text_index", "compact"): 10,
    ("sidecar", "build"): 7, ("sidecar", "append"): 15,
    ("sidecar", "compact"): 18,
    ("ivf", "build"): 7, ("ivf", "append"): 8, ("ivf", "compact"): 4,
    ("ivfpq", "build"): 9, ("ivfpq", "append"): 7, ("ivfpq", "compact"): 4,
    ("rollup", "stage"): 24, ("rollup", "cdf"): 28,
    ("rollup", "bootstrap"): 28,
    ("sketch", "merge"): 5,
}


@pytest.mark.parametrize("store,op", [
    pytest.param(
        store, op,
        marks=() if (store, op) == ("text_index", "apply") else pytest.mark.slow,
        id=f"{store}-{op}",
    )
    for store, op in WRITE_JOBS
])
def test_write_op_job_count(spark, tmp_path, base_stores, store, op):
    """Every job an op starts, the micro-batch's included (a stream
    runs its jobs under its own job group, so they are counted by job
    id, not by group)."""
    base, _twin = base_stores
    root = str(tmp_path / store)
    shutil.copytree(base(store)[0], root)

    def last_job():
        return spark._jsc.sc().statusStore().jobsList(None).head().jobId()

    first = last_job()
    STORES[store][2][op](spark, root)
    assert last_job() - first == WRITE_JOBS[(store, op)]
