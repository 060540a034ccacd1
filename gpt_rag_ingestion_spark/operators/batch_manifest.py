"""The batch manifest: the snapshot table's commit protocol for the
engine's appendable indexes and derived tables.

The persisted BM25 text index (operators/search), the dedup sidecar
(operators/dedup), the IVF/IVFPQ ANN indexes (operators/similarity),
the dashboard rollup and the streaming sketch table (one listed batch
holds the whole table) are each a set of SUB-TABLES whose rows arrive
in batches.  The reference keeps each index as one logical store and
upserts into it as one transaction (delete a parent's chunks, upload
the new ones — jobs/blob_storage_indexer.py:1242-1334); this module
gives every such store that shape.  Layout under ``<root>/``:

  _manifests/<gen:08d>.json     — one generation's manifest, written
                                  once: JSON {gen, <store fields>,
                                  batches: {<sub>: [names]}}.  Readers
                                  read only the listed batch dirs.
  _current                      — the pointer naming the committed gen
  <sub>/batch=<label>__g<gen>/  — one batch of one sub-table (it may
                                  hold ``cell=`` partitions)
  meta                          — a copy of the committed manifest for
                                  tools that read it as a file; once
                                  ``_current`` exists nothing here
                                  reads it

A write op (build, append/apply, delete, compact) recovers
(``recover``: the snapshot table's ``_commit_recover`` and
``_claim_recover``, then collection), writes its batch dirs at gen =
committed + 1, unlisted and so invisible, and commits through
``snapshot_table._commit``: a create-exclusive claim of its manifest,
kept alive by a heartbeat, then a fenced swap of ``_current``.  Of N
writers that read one manifest exactly one commits; the others delete
their dirs and raise ``ManifestWriteConflict``.

Nothing is deleted at commit time.  Superseded manifests are collected
in generation order, each once its successor has been committed
(manifest mtime) for longer than ``CLAIM_LEASE_MS``, with the dirs it
lists that its successor does not; the dirs of a generation that its
manifest never listed (conflict losers', crashed writers') go once that
manifest is as old.  A reader holding a manifest younger than the lease
never loses a file, and recovery reads only the manifests inside that
window.  Dirs above the committed gen belong to an in-flight writer.

A store in the earlier single-file layout (a JSON ``meta``, or only
``meta__staging`` after a commit cut between its delete and rename,
next to its claims dir) reads as its generation, and the first writer's
recovery commits that body as its manifest: no rebuild.  A store from
before any JSON manifest (a parquet ``meta`` directory, sub-tables
without a manifest, or parquet files at the root, where the former
directory swap wrote them) is refused with a ``ValueError`` naming the
build function to re-run; only that build clears it.
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

from gpt_rag_ingestion_spark.operators.snapshot_table import (
    CLAIM_LEASE_MS,
    SnapshotWriteConflict,
    _claim_recover,
    _commit,
    _commit_recover,
    _current_gen,
    _now_ms,
    _read_manifest,
    _read_text,
    _vanished,
    _write_text,
)
from gpt_rag_ingestion_spark.operators.upsert import _fs_delete, _hfs

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
    crashed FIRST build (``batch=<label>__g<n>`` dirs, no manifest)
    does not."""
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


def _single_file(spark, root: str, store: Store) -> str | None:
    """Path of the committed manifest of a store without ``_current``
    (the single-file layout), or None: absent, or a first build cut
    mid-write (a staging file that does not parse).  A pre-manifest
    layout raises."""
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
    """Has the store a committed manifest (in either layout)?  The one
    existence check of every job that builds a store on its first run
    and appends after.  Raises ``ValueError`` on a pre-manifest layout."""
    return (
        _current_gen(spark, root) is not None
        or _single_file(spark, root, store) is not None
    )


def read_meta(spark, root: str, store: Store) -> dict:
    """The committed manifest (a reader's snapshot).  Read-only."""
    gen = _current_gen(spark, root)
    if gen is not None:
        return _read_manifest(spark, root, gen)
    path = _single_file(spark, root, store)
    if path is None:
        raise FileNotFoundError(
            f"no committed batch manifest under {root}; build it with "
            f"{store.build}"
        )
    return json.loads(_read_text(spark, path))


def recover(spark, root: str, store: Store) -> dict:
    """Writer-start recovery; returns the committed manifest.  A store
    in the single-file layout is first committed as its generation."""
    _commit_recover(spark, root)
    _claim_recover(spark, root)
    cur = _current_gen(spark, root)
    if cur is None:
        old = read_meta(spark, root, store)
        cur = int(old["gen"])
        try:
            _commit(spark, root, cur, old, None)
        except SnapshotWriteConflict:
            raise ManifestWriteConflict(
                f"a concurrent writer is moving {root}; retry"
            ) from None
        _fs_delete(spark, f"{root}/meta__staging")
        _fs_delete(spark, f"{root}/claims")
    _collect(spark, root, store, cur)
    return _read_manifest(spark, root, cur)


def _collect(spark, root: str, store: Store, cur: int) -> None:
    """The collection rule.  A batch dir that no surviving manifest
    lists goes when its gen is at or below the newest survivor older
    than the lease: whichever manifest unlisted it is that old too."""
    fs, mdir = _hfs(spark, f"{root}/_manifests")
    now, ages = _now_ms(spark), {}
    for st in fs.listStatus(mdir):
        g = st.getPath().getName()[:-5]
        if g.isdigit() and int(g) <= cur:
            ages[int(g)] = now - st.getModificationTime()
    gens = sorted(ages)
    n = 0  # gens[:n] are superseded by a successor older than the lease
    while n + 1 < len(gens) and ages[gens[n + 1]] > CLAIM_LEASE_MS:
        n += 1
    aged = [g for g in gens[n:] if ages[g] > CLAIM_LEASE_MS]
    if not aged:
        return
    listed = set()
    for g in gens[n:]:
        try:
            batches = _read_manifest(spark, root, g)["batches"]
        except Exception as e:
            if not _vanished(e):
                raise
            continue  # a concurrent collector deleted it
        listed |= {(sub, b) for sub, names in batches.items() for b in names}
    for sub in store.subs:
        sfs, p = _hfs(spark, f"{root}/{sub}")
        for st in sfs.listStatus(p) if sfs.exists(p) else ():
            name = st.getPath().getName()
            if (
                _BATCH_DIR.fullmatch(name)
                and (sub, name[len("batch="):]) not in listed
                and int(name.rsplit("__g", 1)[1]) <= aged[-1]
            ):
                sfs.delete(st.getPath(), True)
    for g in gens[:n]:
        fs.delete(_hfs(spark, f"{root}/_manifests/{g:08d}.json")[1], False)


def begin(spark, root: str, store: Store, label: str):
    """Start a write op: recover, then (committed manifest, the op's
    generation, its batch name ``<label>__g<gen>``)."""
    meta = recover(spark, root, store)
    gen = int(meta["gen"]) + 1
    return meta, gen, f"{label}__g{gen}"


def begin_build(spark, root: str, store: Store, label: str):
    """``begin`` for a (re)build.  Over a committed store the rebuild
    commits at its gen + 1 and unlists every old batch.  A fresh store
    — absent, the debris of a first build that never committed, or a
    pre-manifest layout — is cleared first (its sub-tables, its
    manifests and every file at its root) and the manifest returned is
    None (generation 0)."""
    try:
        committed = exists(spark, root, store)
    except ValueError:  # old layout: the build is what replaces it
        committed = False
    if committed:
        return begin(spark, root, store, label)
    fs, p = _hfs(spark, root)
    for st in fs.listStatus(p) if fs.exists(p) else ():
        if st.isFile():
            fs.delete(st.getPath(), False)
    for d in (*store.subs, *store.retired, "_manifests", "claims", "meta"):
        _fs_delete(spark, f"{root}/{d}")
    return None, 0, f"{label}__g0"


def commit(
    spark, root: str, store: Store, meta: dict | None, gen: int,
    add: dict, remove: dict | None = None, **fields,
) -> dict:
    """Commit ``gen``'s manifest through ``snapshot_table._commit``: it
    lists ``meta``'s batches minus ``remove`` plus ``add`` (both {sub:
    [names]}); ``fields`` update the store's own fields, the others
    carry over from ``meta`` (None for a fresh build).  On a lost claim
    the writer deletes the dirs in ``add`` and raises
    ``ManifestWriteConflict``."""
    remove = remove or {}
    prior = meta or {"batches": {}}
    batches = {}
    for sub in store.subs:
        kept = set(prior["batches"].get(sub, [])) - set(remove.get(sub, ()))
        batches[sub] = sorted(kept | set(add.get(sub, [])))
    carried = {k: v for k, v in prior.items() if k not in ("gen", "batches")}
    new = {"gen": int(gen), **carried, **fields, "batches": batches}
    base = None if meta is None else int(meta["gen"])
    try:
        _commit(spark, root, int(gen), new, base)
    except SnapshotWriteConflict:
        for sub, names in add.items():
            for n in names:
                _fs_delete(spark, batch_path(root, sub, n))
        raise ManifestWriteConflict(
            f"generation {gen} already claimed by a concurrent writer "
            f"({root})"
        ) from None
    _write_text(spark, f"{root}/meta", json.dumps(new))
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
    """Commit a ``write_whole`` batch in place of every listed one."""
    (sub,) = store.subs
    meta, gen, name = staged
    return commit(
        spark, root, store, meta, gen, add={sub: [name]},
        remove={sub: meta["batches"][sub] if meta else []}, **fields,
    )


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
