"""The batch manifest: one commit protocol for the engine's appendable
indexes and derived tables.

The persisted BM25 text index (operators/search), the dedup sidecar
(operators/dedup), the IVF/IVFPQ ANN indexes (operators/similarity),
the dashboard rollup and the streaming sketch table (one listed batch
holds the whole table) are each a set of SUB-TABLES whose rows arrive
in batches.  The
reference keeps each index as one logical store and upserts into it
as one transaction (delete a parent's chunks, upload the new ones —
jobs/blob_storage_indexer.py:1242-1334); this module gives every such
store that shape.  Layout under ``<root>/``:

  meta                          — one-line JSON {gen, <store fields>,
                                  batches: {<sub>: [names]}}.  The
                                  manifest IS the snapshot: readers
                                  read only the listed batch dirs.
  <sub>/batch=<label>__g<gen>/  — one batch of one sub-table (it may
                                  hold ``cell=`` partitions)
  claims/g<gen>                 — generation claims (create-exclusive)

Every write op — build, append/apply, delete, compact — runs the same
steps:

1. writer-start recovery (``recover``): roll a half-committed meta
   forward, delete batch dirs the manifest does not list whose gen is
   <= the committed gen (conflict losers' and crashed writers'
   debris, and dirs a commit unlisted), and drop claims above the
   committed gen (a crashed claim would block its generation forever).
   Dirs above the committed gen belong to an in-flight writer and are
   left alone;
2. write the op's batch dirs at gen = committed + 1 — unlisted, so
   invisible to readers;
3. claim the generation (``claim``): of N writers that read the same
   manifest, exactly one creates ``claims/g<gen>``; the rest delete
   their own dirs and raise ``ManifestWriteConflict``;
4. commit (``write_meta``): write ``meta__staging``, delete ``meta``,
   rename.  Once ``meta`` is deleted the staging file IS the committed
   manifest — ``exists`` and ``read_meta`` read it, and the next
   writer's recovery finishes the rename.  Readers never rename;
5. delete the dirs the commit unlisted (a rebuild or compaction
   unlists every old batch; an append may replace a batch of the same
   label).

There are no directory swaps: a crash anywhere leaves either the old
manifest or the new one, each naming intact batch dirs.  This and the
snapshot table are the engine's two commit protocols.  A store written under an older
layout (a parquet ``meta`` directory, sub-tables without any manifest,
or parquet files at the root, where the former directory swap wrote
them) is refused with a ``ValueError`` naming the build function to
re-run; only that build clears it.
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

from gpt_rag_ingestion_spark.operators.upsert import (
    _fs_delete,
    _fs_exists,
    _fs_try_rename,
    _hfs,
)

_BATCH_DIR = re.compile(r"batch=.+__g\d+")


class ManifestWriteConflict(RuntimeError):
    """Another writer claimed this generation first: the committed
    manifest this batch was computed against has moved (or is about
    to).  The store is intact; retry the operation."""


@dataclass(frozen=True)
class Store:
    """One store's shape: its sub-tables, the function that builds it
    (named when an old-layout directory is refused), and directories
    of its pre-manifest layout that a fresh build clears."""

    subs: tuple
    build: str
    retired: tuple = ()


def same_label(names, label: str) -> list:
    """Listed batch names carrying ``label`` (any generation)."""
    return [n for n in names if n.rsplit("__g", 1)[0] == label]


def batch_path(root: str, sub: str, name: str) -> str:
    return f"{root}/{sub}/batch={name}"


def _refuse(root: str, store: Store):
    raise ValueError(
        f"{root} holds an index in the pre-manifest layout (no JSON "
        f"batch manifest); re-run {store.build} to rebuild it — the "
        "directory is left unchanged"
    )


def _old_layout(spark, root: str, store: Store) -> bool:
    """Parquet files at the root, or a sub-table child that is not a
    manifest batch dir, mark the pre-manifest layout.  The debris of a
    crashed FIRST build (``batch=<label>__g<n>`` dirs, no meta) does
    not."""
    fs, p = _hfs(spark, root)
    if fs.exists(p) and any(
        st.getPath().getName().endswith(".parquet") for st in fs.listStatus(p)
    ):
        return True
    for sub in store.subs:
        fs, p = _hfs(spark, f"{root}/{sub}")
        if not fs.exists(p):
            continue
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name[:1] in ("_", ".") or _BATCH_DIR.fullmatch(name):
                continue
            return True
    return False


def _committed_file(spark, root: str, store: Store) -> str | None:
    """Path of the committed manifest: ``meta``, or ``meta__staging``
    when a commit stopped between its meta delete and its rename.
    None when the store has none (absent, or a first build that never
    committed: a staging file that does not parse was cut mid-write
    before any meta existed).  An old-layout directory raises."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import _read_text

    for name in ("meta", "meta__staging"):
        fs, p = _hfs(spark, f"{root}/{name}")
        if not fs.exists(p):
            continue
        if fs.getFileStatus(p).isDirectory():
            _refuse(root, store)
        if name == "meta":
            return f"{root}/meta"
        try:
            json.loads(_read_text(spark, f"{root}/{name}"))
        except ValueError:
            return None
        return f"{root}/{name}"
    if _old_layout(spark, root, store):
        _refuse(root, store)
    return None


def exists(spark, root: str, store: Store) -> bool:
    """Has the store a committed manifest?  The one existence check of
    every job that builds a store on its first run and appends after:
    a commit cut between its meta delete and rename still counts (its
    staging file is the committed manifest), so the job appends
    instead of rebuilding.  Raises ``ValueError`` on an old layout."""
    return _committed_file(spark, root, store) is not None


def read_meta(spark, root: str, store: Store) -> dict:
    """The committed manifest (a reader's snapshot).  Read-only."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import _read_text

    path = _committed_file(spark, root, store)
    if path is None:
        raise FileNotFoundError(
            f"no committed batch manifest under {root}; build it with "
            f"{store.build}"
        )
    return json.loads(_read_text(spark, path))


def recover(spark, root: str, store: Store) -> dict:
    """Writer-start recovery (step 1 of the protocol); returns the
    committed manifest.  Same slow-writer caveat as the snapshot
    table's _claim_recover: a writer stalled longer than a whole later
    commit can lose its dirs to this collection."""
    meta = read_meta(spark, root, store)
    if not _fs_exists(spark, f"{root}/meta"):
        _fs_try_rename(spark, f"{root}/meta__staging", f"{root}/meta")
    committed = int(meta["gen"])
    for sub in store.subs:
        listed = {f"batch={n}" for n in meta["batches"].get(sub, [])}
        fs, p = _hfs(spark, f"{root}/{sub}")
        if not fs.exists(p):
            continue
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name in listed or not _BATCH_DIR.fullmatch(name):
                continue
            if int(name.rsplit("__g", 1)[1]) <= committed:
                fs.delete(st.getPath(), True)
    fs, p = _hfs(spark, f"{root}/claims")
    if fs.exists(p):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("g") and name[1:].isdigit():
                if int(name[1:]) > committed:
                    fs.delete(st.getPath(), False)
    return meta


def begin(spark, root: str, store: Store, label: str):
    """Start a write op: recover, then (committed manifest, the op's
    generation, its batch name ``<label>__g<gen>``)."""
    meta = recover(spark, root, store)
    gen = int(meta["gen"]) + 1
    return meta, gen, f"{label}__g{gen}"


def begin_build(spark, root: str, store: Store, label: str):
    """``begin`` for a (re)build.  Over a committed store the rebuild
    commits at its gen + 1 and unlists every old batch in one rename.
    A fresh store — absent, the debris of a first build that never
    committed, or an old layout — is cleared first (its sub-tables and
    every file at its root) and the manifest returned is None
    (generation 0)."""
    try:
        committed = _committed_file(spark, root, store) is not None
    except ValueError:  # old layout: the build is what replaces it
        committed = False
    if committed:
        return begin(spark, root, store, label)
    fs, p = _hfs(spark, root)
    for st in fs.listStatus(p) if fs.exists(p) else ():
        if st.isFile():
            fs.delete(st.getPath(), False)
    for d in (*store.subs, *store.retired, "claims", "meta"):
        _fs_delete(spark, f"{root}/{d}")
    return None, 0, f"{label}__g0"


def claim(spark, root: str, gen: int) -> None:
    """Generation claim by atomic create-exclusive (the snapshot
    table's arbitration primitive), taken at COMMIT time — after the
    writer's batch dirs are written, before its meta rename."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import (
        SnapshotWriteConflict,
        _write_text_exclusive,
    )

    try:
        _write_text_exclusive(
            spark, f"{root}/claims/g{int(gen):08d}", str(int(gen))
        )
    except SnapshotWriteConflict:
        raise ManifestWriteConflict(
            f"generation {gen} already claimed by a concurrent writer "
            f"({root})"
        ) from None


def write_meta(spark, root: str, meta: dict) -> None:
    """The commit point: staging file, delete, rename (driver-side, no
    Spark job)."""
    from gpt_rag_ingestion_spark.operators.snapshot_table import _write_text

    _write_text(spark, f"{root}/meta__staging", json.dumps(meta))
    _fs_delete(spark, f"{root}/meta")
    _fs_try_rename(spark, f"{root}/meta__staging", f"{root}/meta")


def commit(
    spark, root: str, store: Store, meta: dict | None, gen: int,
    add: dict, remove: dict | None = None, **fields,
) -> dict:
    """Claim ``gen`` and commit the manifest that lists ``meta``'s
    batches minus ``remove`` plus ``add`` (both {sub: [names]}).
    ``fields`` update the store's own meta fields; the others carry
    over from ``meta`` (None for a fresh build).  After the rename the
    dirs in ``remove`` are deleted.  On a lost claim the writer deletes
    the dirs in ``add`` and raises ``ManifestWriteConflict``."""
    remove = remove or {}
    try:
        claim(spark, root, gen)
    except ManifestWriteConflict:
        for sub, names in add.items():
            for n in names:
                _fs_delete(spark, batch_path(root, sub, n))
        raise
    prior = meta or {"batches": {}}
    batches = {
        sub: sorted(
            [
                n for n in prior["batches"].get(sub, [])
                if n not in remove.get(sub, ())
            ]
            + list(add.get(sub, []))
        )
        for sub in store.subs
    }
    carried = {k: v for k, v in prior.items() if k not in ("gen", "batches")}
    new = {"gen": int(gen), **carried, **fields, "batches": batches}
    write_meta(spark, root, new)
    for sub, names in remove.items():
        for n in names:
            _fs_delete(spark, batch_path(root, sub, n))
    return new


def write_whole(spark, root: str, store: Store, meta, df: DataFrame, label: str):
    """Write ``df`` as the next, still unlisted, batch of a store whose
    one listed batch is the whole table; returns the (manifest, gen,
    name) ``commit_whole`` takes.  ``meta`` is ``begin_build``'s
    manifest.  A random token in the name keeps two writers of one
    generation out of each other's batch dir."""
    (sub,) = store.subs
    gen = int(meta["gen"]) + 1 if meta else 0
    name = f"{label}-{uuid.uuid4().hex[:8]}__g{gen}"
    df.write.mode("overwrite").parquet(batch_path(root, sub, name))
    return meta, gen, name


def commit_whole(spark, root: str, store: Store, staged, **fields) -> dict:
    """Commit a ``write_whole`` batch in place of every listed one,
    then collect the unlisted batches of its generation (a crashed
    writer's: its replay wrote under a new token)."""
    (sub,) = store.subs
    meta, gen, name = staged
    new = commit(
        spark, root, store, meta, gen, add={sub: [name]},
        remove={sub: meta["batches"][sub] if meta else []}, **fields,
    )
    recover(spark, root, store)
    return new


def read_batches(spark, root: str, sub: str, names, schema: str) -> DataFrame:
    """EXACTLY the listed batch dirs of one sub-table, data columns only.
    ``basePath`` is the sub-table root, so batches holding ``cell=``
    partitions read as one table with ``cell`` as a partition column
    (``cell IN (...)`` filters prune directories); the inferred
    ``batch`` column is dropped.  ``schema`` types the read, empty or
    not (a partition column it names takes its type from it), so no
    Spark job infers one from the files; None infers it."""
    if not names:
        return spark.createDataFrame([], schema)
    base = f"{root}/{sub}"
    reader = spark.read.option("basePath", base)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[f"{base}/batch={n}" for n in names]).drop("batch")


def read_store(spark, root: str, store: Store, meta: dict | None = None) -> DataFrame:
    """The rows of a one-sub-table store (the rollup, the sketch): the
    listed batch of ``meta``, by default the committed manifest."""
    (sub,) = store.subs
    meta = meta or read_meta(spark, root, store)
    return read_batches(spark, root, sub, meta["batches"][sub], None)
