"""Recall/latency curve for the probe-count knobs of the IVF-family
ANN operators — the data behind SCALING.md's "ANN recall vs cost"
table and the bench's default probe settings (BENCH ann_recall).

Sweeps n_probe for ivf_ann and ivfpq_ann against the exact cosine
top-k baseline (quantized_dot_topk on unit vectors, the same truth
protocol as bench.py::_ann_recall) and prints one JSON line per
setting: {"corpus", "family", "n_probe", "recall", "wall_sec"}.

TWO corpora (r5 judge brief #8): the shipped parquet embeddings are
WEAKLY clustered — recall tracks the probed fraction almost linearly,
which undersells IVF and makes knee selection fragile — so the sweep
also runs on a deterministic mixture-of-Gaussians corpus
(``clustered_embeddings``) whose geometry matches real embedding
spaces (tight clusters, cluster count ≈ IVF cell count).  The knee is
picked where BOTH curves have flattened.

Run: python3 scripts/ann_recall_curve.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def clustered_embeddings(spark, n: int = 2000, dim: int = 64,
                         n_clusters: int = 16, sigma: float = 0.25):
    """Deterministic mixture-of-Gaussians embedding table
    (vec_id long, embedding array<float>): fixed-seed centers on the
    unit sphere, fixed-seed per-point noise — same rows on every run
    and every machine (NumPy's seeded Generator is
    platform-reproducible)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(20260815)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cluster = np.arange(n) % n_clusters
    pts = centers[cluster] + sigma * rng.standard_normal((n, dim))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": [
                    row.astype(np.float32).tolist() for row in pts
                ],
            }
        )
    )


def main(sf_dir: str = "/root/testdata/sf0.1", k: int = 10) -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from gpt_rag_ingestion_spark.operators.similarity import (
        ivf_ann,
        ivfpq_ann,
        quantized_dot_topk,
    )

    from scripts.harness import session

    spark = session("ann-recall-curve")

    corpora = {
        "parquet": entry_mod._t(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ),
        "clustered": clustered_embeddings(spark),
    }
    for corpus, emb in corpora.items():
        emb = emb.cache()
        norm = F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        unit = emb.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x / F.greatest(norm, F.lit(1e-12))
            ).alias("embedding"),
        )
        truth: dict = {}
        for r in quantized_dot_topk(unit, k=k).collect():
            truth.setdefault(r["vec_id"], set()).add(r["nn_id"])
        pq_queries = emb.filter(F.col("vec_id") % 8 == 0)

        def recall(df, qids):
            got: dict = {}
            for r in df.collect():
                got.setdefault(r["query_id"], set()).add(r["corpus_id"])
            recs = [
                len(got.get(q, set()) & truth[q]) / max(len(truth[q]), 1)
                for q in qids
            ]
            return round(sum(recs) / max(len(recs), 1), 4)

        all_q = list(truth)
        pq_q = [q for q in truth if q % 8 == 0]
        for n_probe in (2, 4, 6, 8, 10, 12, 16):
            t0 = time.time()
            df = ivf_ann(
                emb, emb, dim=64, n_centroids=16, n_probe=n_probe, k=k
            )
            rec = recall(df, all_q)
            print(json.dumps({
                "corpus": corpus, "family": "ivf", "n_probe": n_probe,
                "recall": rec, "wall_sec": round(time.time() - t0, 2),
            }), flush=True)
        for n_probe in (4, 8, 12, 16):
            for rf in (8, 16):
                t0 = time.time()
                df = ivfpq_ann(
                    emb, pq_queries, k=k, n_probe=n_probe,
                    refine_factor=rf, metric="cosine",
                )
                rec = recall(df, pq_q)
                print(json.dumps({
                    "corpus": corpus, "family": "ivfpq",
                    "n_probe": n_probe, "refine_factor": rf,
                    "recall": rec, "wall_sec": round(time.time() - t0, 2),
                }), flush=True)
        emb.unpersist()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
