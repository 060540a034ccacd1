"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment described in README:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting).
- ``spark.sql.shuffle.partitions`` sized for the local core count; on a
  real cluster leave AQE to coalesce from a high initial number.
- Arrow enabled so every pandas UDF crosses the JVM/Python boundary in
  columnar batches instead of pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the
  reference's ISO-8601-UTC convention
  (reference jobs/blob_storage_indexer.py:37-49).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

_SHIPPED: set[int] = set()


def _disable_dataframe_debugging(spark: SparkSession) -> None:
    """Turn off PySpark's per-call Python call-site capture for this
    session (guide §5 — driver overhead).  With
    ``spark.python.sql.dataFrameDebugging.enabled`` (default true),
    EVERY DataFrame/Column API call walks the Python stack and makes
    3-4 extra py4j round-trips (getActiveSession + conf.get + origin
    set/clear) purely to enrich error messages with the user's call
    site — measured at roughly half of all plan-BUILD time for the
    expression-heavy operators (dedup/ANN builders: ~2600 py4j calls
    per q18 build).  The switch is the documented off-knob for that
    debug feature; plans, results and executor behavior are untouched.
    The knob is a STATIC conf (settable only at session build —
    ``get_spark`` below sets it properly for engine-owned sessions);
    for sessions built by a foreign harness the only handle is
    PySpark's process-wide Python-side cache of the flag, which this
    sets directly.  Purely a driver-side (Python client) change: the
    JVM never sees the flag, plans and results are untouched, and
    errors still raise — they just stop carrying the Python call-site
    origin line.  A PySpark that no longer has the cache raises here
    instead of silently keeping the per-call capture on."""
    import pyspark.errors.utils as _eu

    if "_enable_debugging_cache" not in vars(_eu):
        raise RuntimeError(
            "pyspark.errors.utils._enable_debugging_cache is gone: this "
            "PySpark keeps DataFrame call-site capture on for sessions "
            "not built by get_spark; find its new switch"
        )
    _eu._enable_debugging_cache = False


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers via
    addPyFile — the local-mode equivalent of ``spark-submit
    --py-files``.  Needed whenever the driver's cwd/sys.path is not the
    repo (UDF closures reference the package by name)."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    _disable_dataframe_debugging(spark)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"gpt_rag_ingestion_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


def ensure_importable(df: DataFrame) -> None:
    """Call from any operator that creates UDFs referencing this package."""
    ship_package(df.sparkSession)


def ship_active() -> None:
    """Ship to the currently-active session, if any.  Called by every
    UDF FACTORY in this package so no call site can forget — the
    systemic fix for foreign-cwd ModuleNotFoundError on executors."""
    s = SparkSession.getActiveSession()
    if s is not None:
        ship_package(s)


def spread_small_input(docs: DataFrame, cap: int = 8, by: str | None = None) -> DataFrame:
    """Spread a SMALL input across cores without the plan->RDD
    partition probe (``getNumPartitions`` on the plan's RDD costs a query
    compilation per call).  The scan partition count is estimated from
    the leaf file listing: ceil(file_size / maxPartitionBytes) summed
    over input files (sizes best-effort for local paths; one partition
    per file otherwise).  Non-file sources (createDataFrame ranges,
    already-shuffled plans) are left alone — they already carry the
    session parallelism.  At real scale the estimate exceeds the
    threshold immediately and this is a no-op.

    ``by``: optional high-cardinality key column.  When given, the
    spread HASH-partitions on it instead of round-robin: a downstream
    ``groupBy(by)`` then reuses this exchange outright (guide §2.4 —
    partial+final aggregation collapse into the same stage, one fewer
    AQE wave), and the repartition skips the sort-before-repartition
    pass a keyless ``repartition(n)`` pays.  Only pass a key with many
    more distinct values than cores (doc ids qualify; a 4-value bucket
    column does not — guide §2.5)."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = docs.inputFiles()
    except Exception:
        return docs
    if not files:
        return docs
    threshold = min(target, cap)
    if len(files) >= threshold:
        return docs
    raw = docs.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    )
    try:
        max_bytes = int(raw.lower().rstrip("b"))
    except ValueError:
        max_bytes = 128 * 1024 * 1024  # a sized string like "128MB"
    est = 0
    for f in files:
        path = f.split("://", 1)[-1] if "://" in f else f.removeprefix("file:")
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0
        est += max(1, -(-size // max_bytes))
        if est >= threshold:
            return docs
    if by is not None:
        from pyspark.sql import functions as F

        return docs.repartition(target, F.col(by))
    return docs.repartition(target)


def get_spark(
    app_name: str = "gpt-rag-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # binary document payloads can be large; keep broadcast joins for
        # dimension tables but never auto-broadcast a table of blobs.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # per-call Python call-site capture off (static conf — see
        # _disable_dataframe_debugging for the foreign-session path)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # generated-class cache (static conf).  Spark's default of 100
        # entries thrashes on the engine's own working set: on the
        # perfbench corpus a base ingest compiles 93 classes with
        # Janino and each refresh tick 76-92, so every tick evicted the
        # previous one's code and compiled it again.  At 1000 the three
        # ticks after a base ingest compile 41, 20 and 14 classes
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()
