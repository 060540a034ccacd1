"""Delete-then-insert merge semantics and the shared filesystem helpers.

Reference semantics (SURVEY.md S10/S11, §2.10): per document, delete
every existing chunk for the parent, then batch-upsert the new chunk
docs — deterministic keys make the whole pipeline idempotent
(reference jobs/blob_storage_indexer.py:614-615, 1242-1334).

``merged_view`` is that relation as a pure plan: existing rows whose
key does not appear in the increment, plus every incoming row (the
plan ``MERGE INTO`` lowers to).  Every chunks and corpus table commits
it through the manifest-pointer snapshot table
(``operators/snapshot_table.py``); every index and derived table
commits through the batch manifest (``operators/batch_manifest.py``).
Those are the engine's two commit protocols.  This module keeps what
they share:

- Spark's partition-path escaping, to address a partition directory
  from its column values;
- the Hadoop FileSystem helpers (``_fs_*``), scheme-aware on local,
  hdfs:// and abfss:// alike;
- the thread-safe partition-type-inference toggle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Characters Spark's ExternalCatalogUtils.escapePathName escapes when it
# builds `col=value` partition directory names.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_value(v) -> str:
    """Mirror Spark's partition-path escaping so we can address a
    partition directory from its column values.  NULL **and the empty
    string** both map to the Hive default partition — Spark's
    getPartitionPathString does the same, which means a partitioned
    table cannot distinguish '' from NULL in a partition column (both
    read back as NULL).  Don't partition on a column where that
    distinction matters."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(v)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in s)


def _partition_rel_path(partition_cols: list[str], values) -> str:
    return "/".join(
        f"{c}={_escape_path_value(v)}" for c, v in zip(partition_cols, values)
    )


def _hfs(spark: SparkSession, path: str):
    """(FileSystem, Path) through the Hadoop API — commits and
    recovery must work on any scheme whose rename is atomic (local,
    hdfs://, abfss://), unlike driver-local os/shutil; see SCALE.md
    'Sink transactionality' for the contract and the S3 caveat."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p


def _fs_exists(spark, path: str) -> bool:
    fs, p = _hfs(spark, path)
    return bool(fs.exists(p))


def _fs_delete(spark, path: str) -> None:
    fs, p = _hfs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _fs_try_rename(spark, src: str, dst: str) -> bool:
    """Hadoop rename (atomic per directory); False when the FileSystem
    refuses it (missing source, existing destination)."""
    fs, ps = _hfs(spark, src)
    _fs2, pd_ = _hfs(spark, dst)
    return bool(fs.rename(ps, pd_))


def _fs_rename(spark, src: str, dst: str) -> None:
    if not _fs_try_rename(spark, src, dst):
        raise OSError(f"rename failed: {src} -> {dst}")


def _fs_mkdirs(spark, path: str) -> None:
    fs, p = _hfs(spark, path)
    fs.mkdirs(p)


#: Re-entrant, THREAD-SAFE toggle for partition-column type inference.
#: A naive set/restore pair is wrong under the engine's concurrent
#: writers (q219/q223 run real merges from two Python threads over ONE
#: SparkSession): interleaved toggles can capture each other's "false"
#: as the old value and leave the session conf stuck off for every
#: later plain read.  Reference-counted instead: first enter saves the
#: session value and disables inference, last exit restores it; nested
#: and concurrent pinned reads share the disabled window (they all
#: want it off, and each casts its own pinned types afterwards).
_INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"
_INFER_LOCK = __import__("threading").Lock()
_INFER_STATE = {"depth": 0, "saved": "true"}


class _no_partition_inference:
    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        with _INFER_LOCK:
            if _INFER_STATE["depth"] == 0:
                _INFER_STATE["saved"] = self._spark.conf.get(
                    _INFER_KEY, "true"
                )
                self._spark.conf.set(_INFER_KEY, "false")
            _INFER_STATE["depth"] += 1

    def __exit__(self, *exc):
        with _INFER_LOCK:
            _INFER_STATE["depth"] -= 1
            if _INFER_STATE["depth"] == 0:
                self._spark.conf.set(_INFER_KEY, _INFER_STATE["saved"])
        return False


def merged_view(
    existing: DataFrame, incoming: DataFrame, key: str = "parent_id"
) -> DataFrame:
    """The relational core of S11+S10 (delete-parent-then-upload):
    existing rows whose ``key`` does NOT appear in ``incoming``, plus
    every incoming row.  Pure plan — the snapshot table's merge commits
    it (``snapshot_merge_upsert``); exposed separately so the merge
    semantics are oracle-checkable."""
    keys = incoming.select(key).distinct()
    kept = existing.join(F.broadcast(keys), on=key, how="left_anti")
    return kept.unionByName(incoming, allowMissingColumns=True)


def _list_parquet_files(spark, table_path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every leaf parquet file, via the Hadoop
    FileSystem API so the triggers work on remote stores (hdfs://,
    s3a://) — os.walk sees only the driver-local filesystem and would
    silently report 0 files there, disarming the OPTIMIZE trigger.
    Metadata listing only, no Spark job."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out
