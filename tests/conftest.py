from __future__ import annotations

import os
import sys

import pytest

#: the checkout these tests belong to, wherever it lives
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    # the core count the Tier-1 command exports, read as bench.py does
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gpt-rag-ingestion-spark-tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


SF0001 = "/root/testdata/sf0.001"


@pytest.fixture
def collect_aged(spark):
    """``collect_aged(root, store)``: age a batch-manifest store's
    manifests past ``CLAIM_LEASE_MS`` and run writer-start recovery.
    No commit deletes a batch dir; after this the dirs on disk are
    exactly the ones the current manifest lists."""
    import time

    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.snapshot_table import CLAIM_LEASE_MS

    def run(root, store):
        old = time.time() - CLAIM_LEASE_MS / 1000 - 60
        for f in os.listdir(f"{root}/_manifests"):
            os.utime(f"{root}/_manifests/{f}", (old, old))
        bm.recover(spark, root, store)

    return run
