"""Similarity search over embedding columns (beyond-reference, north-star).

- ``knn_bruteforce``: exact top-k by dot product / cosine.  The query
  side is broadcast; the corpus side streams — so the plan is a
  broadcast nested-loop with a per-partition top-k (window), no shuffle
  of the corpus.  Correctness baseline.
- ``quantized_dot_top1``: the oracle-checkable variant — components are
  quantized to integers (round(x*1000)) so the dot product is exact
  integer arithmetic, identical in any engine regardless of summation
  order.  Ranking by quantized dot == ranking by cosine for unit-norm
  vectors up to quantization error.
- ``lsh_bucketed_ann``: the 100 TB scale path — random-hyperplane LSH
  signatures bucket the corpus; candidates only join within a bucket,
  cutting the pair space by ~2^bits.  Signatures are built with the
  deterministic hash-embedding of the bit index, so no randomness
  source is needed at plan time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from gpt_rag_ingestion_spark.embeddings import embed_text_deterministic
from gpt_rag_ingestion_spark.operators import batch_manifest as bm


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _qvec(col):
    """Quantize ARRAY<FLOAT> -> ARRAY<BIGINT> at 3 decimals (exact)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000).cast("long"))


def _quantize_np(mat):
    """round-half-away-from-zero to 3 decimals as int64 — matches SQL
    round() semantics (numpy's round is half-to-even, which would not)."""
    import numpy as np

    scaled = mat.astype("float64") * 1000.0
    return np.where(
        scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype("int64")


def _n_blocks(n_rows: int, block_rows: int) -> int:
    return max(1, -(-n_rows // block_rows))


def tiled_block_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    tile_rows: int,
    id_col: str,
    vec_col: str,
):
    """Block-nested-loop scaffolding shared by the exact vector
    operators: both sides get a deterministic block id (pmod of
    xxhash64(id) — balanced, no global ordering needed), the
    (query-block × corpus-tile) cross product is formed by exploding a
    block-id sequence on each side, and the caller cogroups on
    (qb, ct).  Shuffle cost is the classic |C|·n_qblocks + |Q|·n_tiles
    of a blocked matrix product; per-group memory is bounded by
    ``tile_rows`` on each side, and NOTHING ever flows through the
    driver (the round-1 toPandas()+broadcast scale-killer).

    Returns (corpus_side, query_side) with columns
    (qb, ct, cid, cv) / (qb, ct, qid, qv)."""
    import math

    n_c = corpus.count()
    # self-similarity callers pass the SAME DataFrame for both sides —
    # don't pay a second count job for a number already in hand
    n_q = n_c if queries is corpus else queries.count()
    n_tiles = _n_blocks(n_c, tile_rows)
    n_qb = _n_blocks(n_q, tile_rows)
    # small inputs would otherwise collapse into one group: widen the
    # (tile × block) grid until it covers the cores (no-op at real scale
    # where row counts already dictate many tiles)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if n_tiles * n_qb < par:
        boost = math.isqrt(par // (n_tiles * n_qb)) + 1
        n_tiles = min(max(n_c, 1), n_tiles * boost)
        n_qb = min(max(n_q, 1), n_qb * boost)
    # BOTH key columns must be BIGINT on BOTH sides: a cogroup whose
    # grouping keys differ in type between the frames (INT from
    # explode(sequence) vs BIGINT from pmod(xxhash64)) hash-partitions
    # the two sides differently, silently pairing a group's corpus rows
    # with an EMPTY query side once the data spans more than one
    # shuffle partition — invisible at small row counts (one partition
    # co-locates everything), catastrophic at scale.
    zero, last_qb, last_ct = (
        F.lit(0).cast("long"),
        F.lit(n_qb - 1).cast("long"),
        F.lit(n_tiles - 1).cast("long"),
    )
    c = (
        corpus.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
        .withColumn("ct", F.pmod(F.xxhash64(F.col("cid")), F.lit(n_tiles)))
        .withColumn("qb", F.explode(F.sequence(zero, last_qb)))
    )
    q = (
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
        )
        .withColumn("qb", F.pmod(F.xxhash64(F.col("qid")), F.lit(n_qb)))
        .withColumn("ct", F.explode(F.sequence(zero, last_ct)))
    )
    return c, q


def quantized_dot_top1(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 4096,
    quantize: bool = True,
) -> DataFrame:
    """For every vector: the other vector maximizing the integer-quantized
    dot product (ties -> smaller neighbor id).  Exact, engine-portable.

    Physical strategy: blocked matrix product with no driver
    participation — the corpus is tiled into ~``tile_rows``-row blocks
    by a hash of the id, queries are blocked the same way, each
    (query-block, corpus-tile) pair is scored with one int64 numpy
    matmul inside a cogrouped applyInPandas, and the per-tile winners
    (``quantize=False`` accepts already-integer vectors — e.g. the
    random-projection sketches of ``project_embeddings`` — verbatim)
    are max-merged relationally (struct max on (dot, -nn_id), i.e. the
    smallest-id tie-break).  int64 keeps it exact (values bounded by
    dim * 10^6 << 2^63).  Result is hash-identical to a single global
    argmax regardless of tiling."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(emb)
    base = emb.select(id_col, vec_col)
    c, q = tiled_block_pairs(base, base, tile_rows, id_col, vec_col)

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame({"qid": [], "nn_id": [], "dot": []})
        order = cdf["cid"].to_numpy().argsort(kind="stable")
        cids = cdf["cid"].to_numpy()[order]
        _q = _quantize_np if quantize else (
            lambda m: m.astype("int64")  # already-integer vectors
        )
        cmat = _q(np.vstack(cdf["cv"].to_numpy()[order]))
        qids = qdf["qid"].to_numpy()
        qmat = _q(np.vstack(qdf["qv"].to_numpy()))
        dots = qmat @ cmat.T  # int64 exact
        # mask self-pairs (corpus ids sorted -> binary search)
        self_pos = np.searchsorted(cids, qids)
        rowidx = np.arange(len(qids))
        valid = (self_pos < len(cids)) & (
            cids[np.clip(self_pos, 0, len(cids) - 1)] == qids
        )
        dots[rowidx[valid], self_pos[valid]] = np.iinfo("int64").min
        best = dots.argmax(axis=1)  # first occurrence == smallest id (sorted)
        best_dots = dots[rowidx, best]
        # a tile holding only a query's own vector leaves just the masked
        # self-pair; emit nothing for such rows
        keep = best_dots > np.iinfo("int64").min
        return pd.DataFrame(
            {"qid": qids[keep], "nn_id": cids[best[keep]], "dot": best_dots[keep]}
        )

    cands = (
        c.groupby("qb", "ct")
        .cogroup(q.groupby("qb", "ct"))
        .applyInPandas(score, schema="qid long, nn_id long, dot long")
    )
    # global max-merge of per-tile winners; (dot desc, nn_id asc) via
    # lexicographic struct max on (dot, -nn_id)
    return (
        cands.groupBy("qid")
        .agg(F.max(F.struct(F.col("dot"), (-F.col("nn_id")).alias("neg"))).alias("m"))
        .select(
            F.col("qid").alias(id_col),
            (-F.col("m.neg")).alias("nn_id"),
            F.col("m.dot").alias("dot"),
        )
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.  Queries are
    broadcast (small side); the corpus never shuffles — per-partition
    scoring then a window top-k on (query, score)."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    pairs = c.crossJoin(F.broadcast(qdf)).filter(F.col("corpus_id") != F.col("query_id"))
    cos = _dot(F.col("cv"), F.col("qv")) / (F.col("cnorm") * F.col("qnorm"))
    scored = pairs.select("query_id", "corpus_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic random hyperplane: the hash-embedding of the bit
    index string (unit-norm, reproducible everywhere)."""
    return embed_text_deterministic(f"hyperplane:{bit}", dim)


def _probe_masks(bits: int, probes: int) -> list[int]:
    """All bit-flip masks with <= ``probes`` bits set (multi-probe LSH)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, probes + 1):
        for combo in combinations(range(bits), r):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_bucketed_ann(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bits: int = 8,
    k: int = 10,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket = sign-bit signature over
    ``bits`` fixed hyperplanes; exact cosine within each bucket.
    ``probes`` enables multi-probe: each query also visits buckets whose
    signature differs in <= ``probes`` bits, trading work for recall —
    essential when neighbors are weakly similar (near-orthogonal), where
    single-bucket recall decays as agreement^bits.

    Physical plan (the IVF shape): bucket assignment is a vectorized
    pandas UDF (one numpy matmul per Arrow batch); scoring is a cogrouped
    ``applyInPandas`` on the bucket key — corpus partitions once by
    bucket, queries fan out to 1 + Σ C(bits, i<=probes) buckets, and each
    group does a single dense matmul + per-bucket top-k.  A final window
    merges per-bucket candidates into the global top-k.  At 100 TB the
    bucket key is the only shuffle on the corpus."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)
    planes = np.array([_hyperplane(dim, b) for b in range(bits)], dtype="float64")
    sc = corpus.sparkSession.sparkContext
    b_planes = sc.broadcast(planes)
    powers = np.left_shift(np.int64(1), np.arange(bits, dtype="int64"))
    b_powers = sc.broadcast(powers)

    @pandas_udf("long")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        P, pw = b_planes.value, b_powers.value
        V = np.vstack(vecs.to_numpy()).astype("float64")
        bitsmat = (V @ P.T) > 0
        return pd.Series((bitsmat * pw).sum(axis=1))

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        sig_udf(F.col(vec_col)).alias("bucket"),
    )
    masks = _probe_masks(bits, probes)
    qd = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            sig_udf(F.col(vec_col)).alias("_sig"),
        )
        .withColumn(
            "bucket",
            F.explode(F.array(*[F.col("_sig").bitwiseXOR(F.lit(m)) for m in masks])),
        )
        .drop("_sig")
    )

    return _cogrouped_topk(c, qd, "bucket", k)


def _make_bucket_scorer(k: int):
    """Per-bucket dense cosine scorer for cogrouped applyInPandas: one
    matmul per (corpus-cell, query-probes) group, local top-k.  The
    output rows are assembled with numpy indexing (repeat/ravel/mask)
    rather than a per-(query, neighbor) Python loop — same row multiset
    (the loop appended exactly the finite (qids[i], cids[j], S[i, j])
    triples for j in top[i]), but the construction stays vectorized at
    any bucket size (guide §4.2)."""

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame({"query_id": [], "corpus_id": [], "cosine": []})
        C = np.vstack(cdf["cv"].to_numpy()).astype("float64")
        Q = np.vstack(qdf["qv"].to_numpy()).astype("float64")
        cids = cdf["corpus_id"].to_numpy()
        qids = qdf["query_id"].to_numpy()
        S = (Q @ C.T) / (
            np.linalg.norm(Q, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
        )
        S[qids[:, None] == cids[None, :]] = -np.inf  # mask self-pairs
        kk = min(k, S.shape[1])
        top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(qids)), kk)
        cols = top.ravel()
        vals = S[rows, cols]
        keep = np.isfinite(vals)  # drops masked self-pairs and NaN norms
        return pd.DataFrame(
            {
                "query_id": qids[rows[keep]],
                "corpus_id": cids[cols[keep]],
                "cosine": vals[keep],
            }
        )

    return score


def _cogrouped_topk(c: DataFrame, qd: DataFrame, cell_col: str, k: int) -> DataFrame:
    """Shared tail of LSH/IVF ANN: cogroup corpus and probing queries on
    the cell key, score densely per cell, merge per-cell candidates into
    the global top-k with a window.

    Both frames' cell keys are cast to BIGINT before the cogroup: a
    type mismatch between the sides hash-partitions them differently
    and silently pairs groups with an empty opposite side once the data
    spans multiple partitions (see tiled_block_pairs)."""
    c = c.withColumn(cell_col, F.col(cell_col).cast("long"))
    qd = qd.withColumn(cell_col, F.col(cell_col).cast("long"))
    cands = (
        c.groupby(cell_col)
        .cogroup(qd.groupby(cell_col))
        .applyInPandas(
            _make_bucket_scorer(k),
            schema="query_id long, corpus_id long, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def fit_spherical_centroids(
    corpus: DataFrame,
    n_centroids: int,
    kmeans_iters: int = 5,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic spherical k-means on a bounded driver-side sample
    (lowest ids; init = evenly spaced sample rows) — the standard IVF
    practice: centroid quality needs a representative sample, not the
    corpus.  Returns the unit-norm centroid matrix (numpy)."""
    samp = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(fit_sample).toPandas()
    )
    X = np.vstack(samp[vec_col].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    idx = np.linspace(0, len(X) - 1, num=min(n_centroids, len(X)), dtype=int)
    C = X[idx].copy()
    for _ in range(kmeans_iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[j] = m / norm
    return C


def cell_assign_udf(b_c):
    """Vectorized nearest-centroid assignment UDF over a broadcast
    unit-norm centroid matrix (shared by IVF and SemDeDup)."""

    @pandas_udf("long")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        cm = b_c.value
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        return pd.Series((V @ cm.T).argmax(axis=1))

    return cell_udf


def probe_udf_factory(b_c, n_probe_eff: int, extract=None):
    """Top-``n_probe_eff`` nearest-centroid probe UDF over a broadcast
    unit-norm centroid matrix — the ONE implementation shared by
    ivf_ann, ivfpq_ann, and the persisted-index query path (a fix to
    the norm floor or argsort tie-handling must not fork the paths the
    lifecycle test pins equal).  ``extract`` pulls the matrix out of a
    composite broadcast value (e.g. IVFPQ's (centroids, codebooks))."""

    @pandas_udf("array<long>")
    def probe_udf(vecs: pd.Series) -> pd.Series:
        val = b_c.value
        cm = extract(val) if extract is not None else val
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        S = V @ cm.T
        top = np.argsort(-S, axis=1)[:, :n_probe_eff]
        return pd.Series(list(top))

    return probe_udf


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 10,
    kmeans_iters: int = 5,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via inverted-file (IVF) partitioning: spherical k-means
    centroids fit on a deterministic sample, corpus vectors assigned to
    their nearest centroid cell, queries probing the ``n_probe``
    nearest cells, exact cosine within each probed cell.

    Scale shape: the centroid fit is a driver-side numpy k-means on a
    bounded sample (fit_spherical_centroids); assignment is one
    vectorized pandas UDF pass; the only corpus shuffle is on the cell
    id.  vs LSH: cells adapt to the data distribution, so recall per
    probed candidate is typically higher on clustered data."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)

    C = fit_spherical_centroids(
        corpus, n_centroids, kmeans_iters, fit_sample, id_col, vec_col
    )
    sc = corpus.sparkSession.sparkContext
    b_c = sc.broadcast(C)

    @pandas_udf("long")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        cm = b_c.value
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        return pd.Series((V @ cm.T).argmax(axis=1))

    n_probe_eff = min(n_probe, len(C))
    probe_udf = probe_udf_factory(b_c, n_probe_eff)

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        cell_udf(F.col(vec_col)).alias("cell"),
    )
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    return _cogrouped_topk(c, qd, "cell", k)


def quantized_dot_topk(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 4096,
    quantize: bool = True,
) -> DataFrame:
    """For every vector: the top-``k`` other vectors by integer-quantized
    dot product (ties -> smaller neighbor id); output one row per
    (vector, rank).  Exact and engine-portable — the oracle is a plain
    cross join + window in any SQL engine.

    Physical strategy mirrors :func:`quantized_dot_top1`: blocked int64
    matmul per (query-block, corpus-tile) cogroup with NO driver
    participation, but each tile emits its local top-k candidates
    (k rows per query per tile instead of 1), and the global merge is a
    row_number window over (dot DESC, nn_id ASC) truncated to k — the
    standard distributed top-k: per-partition prune, then one shuffle of
    k·|Q| compact rows."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(emb)
    base = emb.select(id_col, vec_col)
    c, q = tiled_block_pairs(base, base, tile_rows, id_col, vec_col)

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame({"qid": [], "nn_id": [], "dot": []})
        order = cdf["cid"].to_numpy().argsort(kind="stable")
        cids = cdf["cid"].to_numpy()[order]
        _q = _quantize_np if quantize else (
            lambda m: m.astype("int64")  # already-integer sketches
        )
        cmat = _q(np.vstack(cdf["cv"].to_numpy()[order]))
        qids = qdf["qid"].to_numpy()
        qmat = _q(np.vstack(qdf["qv"].to_numpy()))
        dots = qmat @ cmat.T
        self_pos = np.searchsorted(cids, qids)
        rowidx = np.arange(len(qids))
        valid = (self_pos < len(cids)) & (
            cids[np.clip(self_pos, 0, len(cids) - 1)] == qids
        )
        # mask self-pairs with a sentinel whose NEGATION stays valid —
        # int64.min negates to itself (overflow), which would sort the
        # masked cell FIRST under -dot and steal a top-k slot
        sentinel = np.iinfo("int64").min // 4
        dots[rowidx[valid], self_pos[valid]] = sentinel
        kk = min(k, dots.shape[1])
        # local top-k per query row; columns are in cid-ascending order,
        # so a STABLE sort on -dot resolves equal dots to the smaller id
        # — the same tie-break the global merge applies (an argpartition
        # would pick arbitrary members of a tie at the k-th boundary)
        part = np.argsort(-dots, axis=1, kind="stable")[:, :kk]
        out_q = np.repeat(qids, kk)
        out_n = cids[part].ravel()
        out_d = dots[rowidx[:, None], part].ravel()
        keep = out_d > sentinel
        return pd.DataFrame(
            {"qid": out_q[keep], "nn_id": out_n[keep], "dot": out_d[keep]}
        )

    cands = (
        c.groupby("qb", "ct")
        .cogroup(q.groupby("qb", "ct"))
        .applyInPandas(score, schema="qid long, nn_id long, dot long")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("nn_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            "nn_id",
            "dot",
        )
    )


def label_centroid_scores(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster outlier scoring: for each labeled vector, the
    quantized dot product against its label's centroid — exactly the
    within-cluster filtering step of embedding-based corpus curation
    (drop vectors far from their cluster mean; also the scoring half of
    SemDeDup's "keep the most central" variant).

    dot(v, centroid) has the same ORDER as dot(v, Σ members) (the
    centroid is the sum scaled by 1/n), so the score is computed
    against the component-wise SUM — exact integer arithmetic end to
    end, oracle-checkable.  ``outlier_rank`` 1 = least central.

    100 TB: component sums move (label, pos, sum) rows — |labels|×dim,
    tiny; the per-vector score is one broadcast join of those sums back
    to a posexploded scan plus a groupBy on the vector id.  No float
    until never."""
    q = emb.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(_qvec(F.col(vec_col))).alias("pos", "qv"),
    )
    sums = q.groupBy(label_col, "pos").agg(F.sum("qv").alias("sv"))
    scored = (
        q.join(F.broadcast(sums), on=[label_col, "pos"])
        .groupBy(id_col, label_col)
        .agg(F.sum(F.col("qv") * F.col("sv")).alias("dot_sum_q"))
    )
    w = Window.partitionBy(label_col).orderBy(
        F.asc("dot_sum_q"), F.asc(id_col)
    )
    return scored.withColumn(
        "outlier_rank", F.row_number().over(w).cast("int")
    )


def fit_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    kmeans_iters: int = 10,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split the (unit-
    normalized) vector into ``n_subspaces`` blocks and run plain L2
    k-means per block on a bounded deterministic driver sample — the
    same bounded-fit practice as :func:`fit_spherical_centroids`.
    Returns (n_subspaces, n_centroids, d_sub) numpy codebooks."""
    samp = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(fit_sample).toPandas()
    )
    X = np.vstack(samp[vec_col].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    n, d = X.shape
    if d % n_subspaces != 0:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    d_sub = d // n_subspaces
    m = min(n_centroids, n)
    books = np.zeros((n_subspaces, m, d_sub))
    for s in range(n_subspaces):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        idx = np.linspace(0, n - 1, num=m, dtype=int)
        C = Xs[idx].copy()
        for _ in range(kmeans_iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(m):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books[s] = C
    return books


def pq_encode(
    corpus: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress the corpus to PQ codes: ``n_subspaces`` small ints per
    vector (one vectorized Arrow pass) — a 16-32x memory cut over raw
    floats, which is the whole point: the 100 TB corpus scan becomes a
    few-TB code scan."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)
    b_b = corpus.sparkSession.sparkContext.broadcast(books)

    @pandas_udf("array<int>")
    def encode_udf(vecs: pd.Series) -> pd.Series:
        B = b_b.value
        n_sub, m, d_sub = B.shape
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        codes = np.empty((len(V), n_sub), dtype="int32")
        for s in range(n_sub):
            Vs = V[:, s * d_sub : (s + 1) * d_sub]
            d2 = ((Vs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col).alias("corpus_id"), encode_udf(F.col(vec_col)).alias("codes")
    )


PQ_MAX_QUERY_ROWS = 65536


def _collect_query_batch(
    queries: DataFrame, id_col: str, vec_col: str,
    max_rows: int = PQ_MAX_QUERY_ROWS,
):
    """The PQ family's documented contract: the query side is a BOUNDED
    batch (it broadcasts as per-query distance tables).  Guard the
    driver collect — ``limit(max_rows + 1)`` bounds the transfer itself,
    and an over-limit batch fails fast with the remedy instead of
    OOMing the driver."""
    qp = (
        queries.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(qp) > max_rows:
        raise ValueError(
            f"PQ query batch exceeds {max_rows} rows; the PQ family "
            "broadcasts queries as distance tables, so slice the query "
            "side into bounded batches (or use lsh_bucketed_ann / "
            "ivf_ann, whose query side stays distributed)"
        )
    return qp


def pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    kmeans_iters: int = 10,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN by asymmetric distance computation over PQ codes: per query
    a (n_subspaces x n_centroids) lookup table of exact subvector
    distances; each corpus vector's approximate L2^2 is a sum of
    ``n_subspaces`` table gathers over its codes.  On unit vectors
    L2^2 = 2 - 2*cos, so the ranking approximates cosine top-k.

    Scale shape: queries broadcast as distance TABLES (n_q * n_sub *
    n_centroids doubles — independent of corpus size, same
    broadcast-queries/corpus-streams contract as brute_force_knn); the
    corpus streams as codes through one iterator mapInPandas with
    per-batch local top-k, and the global merge shuffles k rows per
    (query, batch) — compact.  No corpus-side shuffle at all until the
    k-row merge."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)
    books = fit_pq_codebooks(
        corpus, n_subspaces, n_centroids, kmeans_iters, fit_sample, id_col, vec_col
    )
    codes = pq_encode(corpus, books, id_col, vec_col)

    qp = _collect_query_batch(queries, id_col, vec_col)
    qids = qp[id_col].to_numpy()
    Q = np.vstack(qp[vec_col].to_numpy()).astype("float64")
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1)[:, None], 1e-12)
    n_sub, m, d_sub = books.shape
    # T[q, s, c] = ||q_s - book[s][c]||^2 — exact subvector distances
    T = np.empty((len(Q), n_sub, m))
    for s in range(n_sub):
        Qs = Q[:, s * d_sub : (s + 1) * d_sub]
        T[:, s, :] = ((Qs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
    spark = corpus.sparkSession
    b_t = spark.sparkContext.broadcast((qids, T))

    def scan(batches):
        q_ids, tab = b_t.value
        kk = k
        for pdf in batches:
            if pdf.empty:
                continue
            order = pdf["corpus_id"].to_numpy().argsort(kind="stable")
            cids = pdf["corpus_id"].to_numpy()[order]
            C = np.vstack(pdf["codes"].to_numpy()[order]).astype("int64")
            # D[q, i] = sum_s tab[q, s, C[i, s]]
            D = tab[:, np.arange(tab.shape[1])[None, :], C[:, :]].sum(axis=2)
            kb = min(kk, D.shape[1])
            part = np.argsort(D, axis=1, kind="stable")[:, :kb]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kb),
                    "corpus_id": cids[part].ravel(),
                    "approx_l2sq": D[
                        np.arange(len(q_ids))[:, None], part
                    ].ravel(),
                }
            )

    cands = codes.mapInPandas(
        scan, schema="query_id long, corpus_id long, approx_l2sq double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_l2sq"), F.asc("corpus_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_l2sq", "rank")
    )


def pq_ann_refined(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine_factor: int = 5,
    n_subspaces: int = 16,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """PQ shortlist + exact re-rank — the standard production PQ
    deployment (Jégou et al. 2011 §V): the compressed-code scan yields
    ``refine_factor * k`` candidates per query, then ONLY those rows
    (k'·|Q| — compact) join back to their raw vectors for an exact
    integer-quantized dot re-rank.  Final recall@k equals the
    shortlist's recall — on the synthetic sf0.001 corpus ≈0.95 with a
    5x shortlist vs 0.56 for raw PQ ranking at the same code budget.

    Scale shape: the shortlist BROADCASTS to the corpus scan (bounded
    by the query batch, same contract as the distance-table
    broadcast), so fetching candidate vectors never shuffles the
    corpus; the re-rank shuffles k'·|Q| rows once for the final
    window."""
    shortlist = pq_ann(
        corpus,
        queries,
        k=k * refine_factor,
        n_subspaces=n_subspaces,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "corpus_id")
    return exact_rerank(
        corpus, queries, shortlist, k, id_col, vec_col, metric=metric
    )


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Exact integer-quantized re-rank of a (query_id, corpus_id)
    shortlist: the shortlist broadcasts to the raw-vector scan (no
    corpus shuffle), the final window shuffles k'·|Q| compact rows.

    ``metric``: ``"dot"`` scores the RAW quantized inner product (the
    q148 exactness contract; identical to cosine when callers
    pre-normalize).  ``"cosine"`` unit-normalizes BOTH sides before
    quantizing — use this on corpora whose vector norms vary, because
    the PQ/ADC shortlist upstream always works in cosine geometry
    (every encode path normalizes) and a raw-dot re-rank of a cosine
    shortlist answers a different question than it pruned for.  The
    r6 clustered-corpus recall study caught exactly that: ivfpq
    recall@10 capped at 0.71 on mixture-of-Gaussians data no matter
    how many cells were probed or how deep the refine pool went
    (refine 128 = 64% of the corpus exactly rescored!), because the
    re-rank returned max-dot rows while truth was max-cosine; with
    metric="cosine" the same settings recover the IVF-level curve."""
    if metric not in ("dot", "cosine"):
        raise ValueError(f"metric must be 'dot' or 'cosine': {metric!r}")
    qp = _collect_query_batch(queries, id_col, vec_col)
    qraw = np.vstack(qp[vec_col].to_numpy()).astype("float64")
    if metric == "cosine":
        qraw = qraw / np.maximum(
            np.linalg.norm(qraw, axis=1)[:, None], 1e-12
        )
    qmat = _quantize_np(qraw)
    qindex = {int(q): i for i, q in enumerate(qp[id_col].to_numpy())}
    spark = corpus.sparkSession
    b_q = spark.sparkContext.broadcast((qindex, qmat, metric))

    @pandas_udf("long")
    def qdot_udf(qid: pd.Series, cv: pd.Series) -> pd.Series:
        qix, qm, met = b_q.value
        C = np.vstack(cv.to_numpy()).astype("float64")
        if met == "cosine":
            C = C / np.maximum(np.linalg.norm(C, axis=1)[:, None], 1e-12)
        C = _quantize_np(C)
        rows = np.array([qix[int(q)] for q in qid.to_numpy()])
        return pd.Series((qm[rows] * C).sum(axis=1))

    withvec = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")
    ).join(F.broadcast(shortlist), on="corpus_id")
    scored = withvec.withColumn(
        "qdot", qdot_udf(F.col("query_id"), F.col("cv"))
    ).filter(F.col("query_id") != F.col("corpus_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qdot"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "qdot", "rank")
    )


def ivfpq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 16,
    pq_centroids: int = 64,
    refine_factor: int = 5,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """IVF + PQ — the FAISS IVFPQ architecture (Jégou et al. 2011
    §VI): a coarse spherical-kmeans quantizer prunes the scan to
    ``n_probe`` of ``n_cells`` cells, PQ codes of the RESIDUAL
    (vector − its cell centroid) compress what remains, ADC tables per
    (query, probed cell) score the codes, and the exact re-rank
    recovers recall on the 5x shortlist.

    Scale shape: coarse fit and residual codebooks fit on one bounded
    driver sample; the corpus carries (cell, codes) — the 16-32x
    compressed representation — and its only shuffle is the cogroup on
    cell id; queries broadcast as residual distance tables per probed
    cell (n_q · n_probe · n_sub · m doubles, corpus-independent); the
    re-rank touches k'·|Q| raw vectors via a broadcast semi-probe."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)
    spark = corpus.sparkSession

    C, books = _fit_ivfpq_model(
        corpus, n_cells, n_subspaces, pq_centroids, fit_sample, id_col, vec_col
    )
    b_model = spark.sparkContext.broadcast((C, books))
    enc = _ivfpq_encode(corpus, b_model, id_col, vec_col)

    # --- queries: probe cells, carry the query vector to the cogroup
    n_probe_eff = min(n_probe, len(C))
    probe_udf = probe_udf_factory(b_model, n_probe_eff, extract=lambda v: v[0])

    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )

    kk = k * refine_factor
    shortlist = _ivfpq_adc_shortlist(enc, qd, b_model, kk)
    return exact_rerank(
        corpus, queries, shortlist, k, id_col, vec_col, metric=metric
    )


# ------------------------------------------------------------------ IVF index
# Persisted IVF lifecycle: build once, append batches WITHOUT refitting,
# query with partition-pruned cell reads, monitor assignment drift.
# Every other ANN entry point in this module refits per call — fine for
# a one-shot query, wrong for a living 100 TB corpus where the index
# outlives any single job.
#
# Both persisted ANN indexes (IVF here, IVFPQ below) are batch-manifest
# stores (operators/batch_manifest): the model tables (centroids, and
# IVFPQ's codebooks) and the cell-partitioned postings
# (``postings/batch=<label>__g<gen>/cell=<c>/``) are listed sub-tables,
# so a rebuild and a compaction are each ONE manifest commit.  The IVF meta
# also carries the drift signal: per-batch ``stats`` ({label:
# {n_vectors, mean_assign_sim}}) and the build ``baseline``.

IVF_INDEX = bm.Store(
    subs=("centroids", "postings"), build="ivf_index_build",
    retired=("stats", "baseline"),
)
IVFPQ_INDEX = bm.Store(
    subs=("centroids", "codebooks", "postings"), build="ivfpq_index_build"
)
_IVF_POSTINGS = "corpus_id long, cv array<double>, cell int"
_IVFPQ_POSTINGS = "corpus_id long, codes array<int>, cell int"


def ivf_index_build(
    corpus: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 5,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_label: str = "build",
) -> dict:
    """Build a persisted IVF index: centroids (one row per centroid) +
    postings laid out as ``postings/batch=<label>__g<gen>/cell=N/``
    parquet partitions.  The cell-partitioned layout is the point at
    scale — a probe of p cells out of C reads p/C of the data via
    partition PRUNING, no index-wide scan, no shuffle at query time
    beyond the cogroup.  A REBUILD at the same path (the
    ``ivf_needs_refit`` remedy) commits the new centroids, postings,
    stats and baseline and unlists every old batch in one commit
    — stale cells assigned under the old centroids never survive, and
    a crash leaves the old index whole.  The build batch's mean top-1
    centroid similarity is the ``baseline`` drift reference.
    ``batch_label`` names the build batch — a streaming build batch
    passes its batch id so a foreachBatch RETRY (which takes the
    append path, the index now existing) replaces the SAME batch
    instead of duplicating the build's vectors."""
    spark = corpus.sparkSession
    C = fit_spherical_centroids(
        corpus, n_centroids, kmeans_iters, fit_sample, id_col, vec_col
    )
    meta, gen, name = bm.begin_build(spark, index_path, IVF_INDEX, batch_label)
    cent_rows = [
        (int(j), [float(x) for x in C[j]]) for j in range(len(C))
    ]
    spark.createDataFrame(
        cent_rows, "centroid_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        bm.batch_path(index_path, "centroids", name)
    )
    row = _ivf_assign_write(
        corpus, C, bm.batch_path(index_path, "postings", name), id_col, vec_col
    )
    bm.commit(
        spark, index_path, IVF_INDEX, meta, gen,
        add={"centroids": [name], "postings": [name] if row["n_vectors"] else []},
        remove=meta["batches"] if meta else None,
        stats={batch_label: row} if row["n_vectors"] else {},
        baseline={"batch": batch_label, "mean_assign_sim": row["mean_assign_sim"]},
    )
    return {"batch": batch_label, **row}


def _ivf_load_centroids(spark, index_path: str, meta):
    rows = (
        bm.read_batches(
            spark, index_path, "centroids", meta["batches"]["centroids"],
            "centroid_id int, centroid array<double>",
        )
        .orderBy("centroid_id")
        .collect()
    )
    return np.vstack([np.asarray(r["centroid"], dtype="float64") for r in rows])


def _ivf_assign_write(vectors, C, postings_dir, id_col, vec_col) -> dict:
    """Assign one batch to the centroids ``C`` and write its
    cell-partitioned postings to ``postings_dir`` (unlisted until the
    caller's commit).  Returns {n_vectors, mean_assign_sim}; an empty
    batch writes nothing."""
    spark = vectors.sparkSession
    b_c = spark.sparkContext.broadcast(C)

    @pandas_udf("cell long, sim double")
    def assign_udf(vecs: pd.Series) -> pd.DataFrame:
        cm = b_c.value
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        S = V @ cm.T
        cell = S.argmax(axis=1)
        return pd.DataFrame(
            {"cell": cell, "sim": S[np.arange(len(V)), cell]}
        )

    assigned = vectors.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        assign_udf(F.col(vec_col)).alias("_a"),
    ).select(
        "corpus_id", "cv", F.col("_a.cell").alias("cell"), F.col("_a.sim").alias("sim")
    )
    # one assignment pass feeds both the write and the stats agg
    assigned = assigned.persist()
    try:
        stats = assigned.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("sim").alias("mean_assign_sim"),
        ).first()
        if stats["n_vectors"] == 0:
            return {"n_vectors": 0, "mean_assign_sim": None}
        assigned.select("corpus_id", "cv", "cell").write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(postings_dir)
    finally:
        assigned.unpersist()
    return {
        "n_vectors": int(stats["n_vectors"]),
        "mean_assign_sim": float(stats["mean_assign_sim"]),
    }


def ivf_index_append(
    vectors: DataFrame,
    index_path: str,
    batch_label: str = "append",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental maintenance: assign a new batch to the EXISTING
    centroids and commit its cell partitions — O(batch), never
    O(index), no refit, readers unaffected (they see the batch once
    the manifest lists it).  IDEMPOTENT per ``batch_label``: the commit
    unlists any earlier batch of the same label, so a retried
    micro-batch (foreachBatch is at-least-once) replaces itself instead
    of double-appending.  The batch's ``mean_assign_sim`` lands in the
    meta stats and tracks drift: when fresh batches assign markedly
    worse than the build baseline, the data has moved and the index
    wants a rebuild (``ivf_needs_refit``)."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(vectors)
    spark = vectors.sparkSession
    meta, gen, name = bm.begin(spark, index_path, IVF_INDEX, batch_label)
    C = _ivf_load_centroids(spark, index_path, meta)
    row = _ivf_assign_write(
        vectors, C, bm.batch_path(index_path, "postings", name), id_col, vec_col
    )
    if row["n_vectors"]:  # an empty batch must not replace its label's rows
        bm.commit(
            spark, index_path, IVF_INDEX, meta, gen,
            add={"postings": [name]},
            remove={
                "postings": bm.same_label(
                    meta["batches"]["postings"], batch_label
                )
            },
            stats={**meta["stats"], batch_label: row},
        )
    return {"batch": batch_label, **row}


def ivf_index_query(
    spark,
    index_path: str,
    queries: DataFrame,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the persisted index: probe the n_probe nearest cells per
    query and push ``cell IN (probed)`` into the postings scan — with
    the cell-partitioned layout that is directory-level partition
    pruning, so a 2-of-16 probe reads ~1/8th of the postings.  Exact
    cosine + global top-k inside the probed cells (same cogrouped tail
    as ivf_ann).  Readers resolve the committed manifest and mutate
    nothing."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(queries)
    meta = bm.read_meta(spark, index_path, IVF_INDEX)
    C = _ivf_load_centroids(spark, index_path, meta)
    b_c = spark.sparkContext.broadcast(C)
    probe_udf = probe_udf_factory(b_c, min(n_probe, len(C)))

    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    ).localCheckpoint()  # one probe-UDF pass: the probed-cell collect
    # below and the cogroup both read the materialized result
    probed = [
        int(r["cell"]) for r in qd.select("cell").distinct().collect()
    ]
    postings = (
        bm.read_batches(
            spark, index_path, "postings", meta["batches"]["postings"],
            _IVF_POSTINGS,
        )
        .filter(F.col("cell").isin(probed))
        .withColumn("cell", F.col("cell").cast("long"))
        .select("corpus_id", "cv", "cell")
    )
    return _cogrouped_topk(postings, qd, "cell", k)


def ivf_needs_refit(spark, index_path: str, tolerance: float = 0.05) -> bool:
    """Refit signal from the meta alone (no Spark job): some appended
    batch's mean assignment similarity fell more than ``tolerance``
    below the build baseline (the conservative min over appends).  An
    index with no committed manifest or no baseline similarity (an
    empty build) reports True (rebuild) instead of crashing the
    monitor."""
    if not bm.exists(spark, index_path, IVF_INDEX):
        return True
    meta = bm.read_meta(spark, index_path, IVF_INDEX)
    base = meta["baseline"]
    if base["mean_assign_sim"] is None:
        return True
    appended = [
        s["mean_assign_sim"]
        for label, s in meta["stats"].items()
        if label != base["batch"]
    ]
    if not appended:
        return False
    return min(appended) < base["mean_assign_sim"] - tolerance


def _compact_postings(spark, index_path, store, schema, label) -> dict:
    """Fold the listed postings batches into ONE cell-partitioned batch
    — the index's OPTIMIZE.  Hourly micro-batch appends write a file
    set per (batch, cell); at 1024 cells that is ~25k files/day, and
    every probe pays a parquet footer fetch per file.  One read → one
    partitionBy(cell) write restores O(cells) files while queries keep
    the same pruned layout.  The folded batch lands unlisted and one
    commit lists it in place of the old ones; the model tables, stats
    and drift baseline are untouched — compaction moves bytes, not
    meaning."""
    meta, gen, name = bm.begin(spark, index_path, store, label)
    names = meta["batches"]["postings"]
    path = bm.batch_path(index_path, "postings", name)
    bm.read_batches(spark, index_path, "postings", names, schema).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(path)
    n = int(spark.read.parquet(path).count())
    bm.commit(
        spark, index_path, store, meta, gen,
        add={"postings": [name]}, remove={"postings": names},
    )
    return {"n_vectors": n, "label": label}


def ivf_index_compact(spark, index_path: str, label: str = "compacted") -> dict:
    """OPTIMIZE for the IVF postings (see ``_compact_postings``)."""
    return _compact_postings(spark, index_path, IVF_INDEX, _IVF_POSTINGS, label)


def _maybe_compact_postings(spark, index_path, store, max_fragments, compact):
    frags = len(bm.read_meta(spark, index_path, store)["batches"]["postings"])
    if frags > max_fragments:
        out = compact(spark, index_path)
        return {"compacted": True, "fragments_before": frags, **out}
    return {"compacted": False, "fragments": frags}


def ivf_index_maybe_compact(
    spark, index_path: str, max_fragments: int = 16
) -> dict:
    """Compaction TRIGGER for the persisted IVF index, cheap enough for
    every foreachBatch tick (one meta read, no listing, no Spark job):
    compact when the manifest lists more than ``max_fragments``
    postings batches.  Each batch multiplies the per-probe
    parquet-footer fetches by one file set per (batch, cell) — the
    trigger bounds that at max_fragments x cells while streaming
    appends keep landing.  Query results are unchanged across the
    compact (unit-pinned)."""
    return _maybe_compact_postings(
        spark, index_path, IVF_INDEX, max_fragments, ivf_index_compact
    )


def ivfpq_index_maybe_compact(
    spark, index_path: str, max_fragments: int = 16
) -> dict:
    """IVFPQ twin of ``ivf_index_maybe_compact`` — same batch-count
    trigger over the code postings."""
    return _maybe_compact_postings(
        spark, index_path, IVFPQ_INDEX, max_fragments, ivfpq_index_compact
    )


# ------------------------------------------------------------ IVFPQ internals
# shared by the per-call ivfpq_ann and the persisted index lifecycle


def _fit_ivfpq_model(
    corpus, n_cells, n_subspaces, pq_centroids, fit_sample, id_col, vec_col
):
    """Coarse spherical-kmeans centroids + per-subspace residual PQ
    codebooks, both fit on ONE bounded deterministic driver sample
    (Jégou et al. 2011 §VI).  Returns (C [n_cells×d], books
    [n_sub×m×d_sub]) as numpy arrays."""
    C = fit_spherical_centroids(
        corpus, n_cells, fit_sample=fit_sample, id_col=id_col, vec_col=vec_col
    )
    samp = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(fit_sample).toPandas()
    )
    X = np.vstack(samp[vec_col].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-12)
    cell_of = (X @ C.T).argmax(axis=1)
    R = X - C[cell_of]
    n, d = R.shape
    if d % n_subspaces != 0:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    d_sub = d // n_subspaces
    m = min(pq_centroids, n)
    books = np.zeros((n_subspaces, m, d_sub))
    for s in range(n_subspaces):
        Rs = R[:, s * d_sub : (s + 1) * d_sub]
        idx = np.linspace(0, n - 1, num=m, dtype=int)
        B = Rs[idx].copy()
        for _ in range(10):
            d2 = ((Rs[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(m):
                members = Rs[assign == j]
                if len(members):
                    B[j] = members.mean(axis=0)
        books[s] = B
    return C, books


def _ivfpq_encode(corpus, b_model, id_col, vec_col):
    """(corpus_id, cell, codes) — cell assignment + residual PQ codes
    in one Arrow pass over the corpus."""

    @pandas_udf("struct<cell: long, codes: array<int>>")
    def encode_udf(vecs: pd.Series) -> pd.DataFrame:
        cm, bk = b_model.value
        n_sub, mm, ds = bk.shape
        V = np.vstack(vecs.to_numpy()).astype("float64")
        V = V / np.maximum(np.linalg.norm(V, axis=1)[:, None], 1e-12)
        cells = (V @ cm.T).argmax(axis=1)
        Rv = V - cm[cells]
        codes = np.empty((len(V), n_sub), dtype="int32")
        for s in range(n_sub):
            Rs = Rv[:, s * ds : (s + 1) * ds]
            d2 = ((Rs[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    return corpus.select(
        F.col(id_col).alias("corpus_id"), encode_udf(F.col(vec_col)).alias("e")
    ).select(
        "corpus_id", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes")
    )


def _ivfpq_adc_shortlist(enc, qd, b_model, kk):
    """Cogrouped ADC scoring of (cell, codes) postings against probing
    queries, returning the per-query top-``kk`` (query_id, corpus_id)
    shortlist for exact refinement.  One scorer implementation —
    ``_ivfpq_adc_rank`` — serves both this and the no-refine ranked
    return."""
    return _ivfpq_adc_rank(enc, qd, b_model, kk).select(
        "query_id", "corpus_id"
    )


# --------------------------------------------------------------- IVFPQ index
# Persisted IVFPQ lifecycle: the postings hold CODES, not vectors — at
# 16 subspaces × 1 byte-ish code per subspace that is a 16-32× smaller
# index than the raw-vector IVF postings, which is what makes a
# trillion-vector index storable at all (FAISS IVFPQ architecture).
# The raw vectors stay in the source corpus table (the system of
# record); exact refinement joins the shortlist back to it.


def ivfpq_index_build(
    corpus: DataFrame,
    index_path: str,
    n_cells: int = 16,
    n_subspaces: int = 16,
    pq_centroids: int = 64,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build the persisted IVFPQ index: fit the coarse quantizer +
    residual codebooks on a bounded sample, persist them as model
    sub-tables (centroids: (cell, c); codebooks: (subspace, code, b)),
    and encode the corpus into cell-partitioned CODE postings — the
    same batch=<label>__g<gen>/cell=<c> layout as the raw-vector IVF
    index, so queries prune directories identically.  Model and
    postings commit together; a rebuild unlists every old batch."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(corpus)
    spark = corpus.sparkSession
    C, books = _fit_ivfpq_model(
        corpus, n_cells, n_subspaces, pq_centroids, fit_sample, id_col, vec_col
    )
    meta, gen, name = bm.begin_build(spark, index_path, IVFPQ_INDEX, "build")
    spark.createDataFrame(
        [(i, C[i].tolist()) for i in range(len(C))], "cell int, c array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        bm.batch_path(index_path, "centroids", name)
    )
    spark.createDataFrame(
        [
            (s, j, books[s][j].tolist())
            for s in range(books.shape[0])
            for j in range(books.shape[1])
        ],
        "subspace int, code int, b array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        bm.batch_path(index_path, "codebooks", name)
    )
    b_model = spark.sparkContext.broadcast((C, books))
    enc = _ivfpq_encode(corpus, b_model, id_col, vec_col).persist()
    try:
        n = int(enc.count())  # one materialization serves count + write
        enc.write.partitionBy("cell").mode("overwrite").parquet(
            bm.batch_path(index_path, "postings", name)
        )
    finally:
        enc.unpersist()
    bm.commit(
        spark, index_path, IVFPQ_INDEX, meta, gen,
        add={sub: [name] for sub in IVFPQ_INDEX.subs},
        remove=meta["batches"] if meta else None,
    )
    return {"n_vectors": n, "n_cells": int(len(C))}


def _ivfpq_load_model(spark, index_path: str, meta):
    def read(sub, schema):
        return bm.read_batches(
            spark, index_path, sub, meta["batches"][sub], schema
        ).collect()

    cent = read("centroids", "cell int, c array<double>")
    C = np.zeros((len(cent), len(cent[0]["c"])))
    for r in cent:
        C[r["cell"]] = r["c"]
    rows = read("codebooks", "subspace int, code int, b array<double>")
    n_sub = max(r["subspace"] for r in rows) + 1
    m = max(r["code"] for r in rows) + 1
    d_sub = len(rows[0]["b"])
    books = np.zeros((n_sub, m, d_sub))
    for r in rows:
        books[r["subspace"]][r["code"]] = r["b"]
    return C, books


def ivfpq_index_append(
    vectors: DataFrame,
    index_path: str,
    batch_label: str = "append",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """O(batch) incremental maintenance: encode against the PERSISTED
    model (no refit) and commit the batch's own postings — the commit
    unlists any earlier batch of the same label, so an at-least-once
    retry replaces rather than double-appends (the streaming-maintainer
    contract of ivf_index_append)."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(vectors)
    spark = vectors.sparkSession
    meta, gen, name = bm.begin(spark, index_path, IVFPQ_INDEX, batch_label)
    model = _ivfpq_load_model(spark, index_path, meta)
    b_model = spark.sparkContext.broadcast(model)
    enc = _ivfpq_encode(vectors, b_model, id_col, vec_col).persist()
    try:
        n = enc.count()
        if n == 0:
            return {"batch": batch_label, "n_vectors": 0}
        enc.write.partitionBy("cell").mode("overwrite").parquet(
            bm.batch_path(index_path, "postings", name)
        )
    finally:
        enc.unpersist()
    bm.commit(
        spark, index_path, IVFPQ_INDEX, meta, gen,
        add={"postings": [name]},
        remove={
            "postings": bm.same_label(meta["batches"]["postings"], batch_label)
        },
    )
    return {"batch": batch_label, "n_vectors": int(n)}


def ivfpq_index_query(
    spark,
    index_path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    refine_with: DataFrame | None = None,
    refine_factor: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Query the persisted IVFPQ index: probe n_probe cells, push
    ``cell IN (probed)`` into the code-postings scan (directory-level
    pruning on the cell-partitioned layout), ADC-score the codes, and —
    when ``refine_with`` (the raw-vector corpus table, the system of
    record) is given — exactly re-rank the k·refine_factor shortlist.
    Without ``refine_with`` the ADC ranking itself is returned
    (query_id, corpus_id, rank).  Readers resolve the committed
    manifest and mutate nothing."""
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(queries)
    meta = bm.read_meta(spark, index_path, IVFPQ_INDEX)
    model = _ivfpq_load_model(spark, index_path, meta)
    C, _books = model
    b_model = spark.sparkContext.broadcast(model)
    probe_udf = probe_udf_factory(
        b_model, min(n_probe, len(C)), extract=lambda v: v[0]
    )
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    ).localCheckpoint()
    probed = [int(r["cell"]) for r in qd.select("cell").distinct().collect()]
    enc = (
        bm.read_batches(
            spark, index_path, "postings", meta["batches"]["postings"],
            _IVFPQ_POSTINGS,
        )
        .filter(F.col("cell").isin(probed))
        .select("corpus_id", "codes", F.col("cell").cast("long").alias("cell"))
    )
    if refine_with is not None:
        shortlist = _ivfpq_adc_shortlist(enc, qd, b_model, k * refine_factor)
        return exact_rerank(
            refine_with, queries, shortlist, k, id_col, vec_col,
            metric=metric,
        )
    return _ivfpq_adc_rank(enc, qd, b_model, k)


def _ivfpq_adc_rank(enc, qd, b_model, k):
    """ADC top-k WITH rank (query_id, corpus_id, approx_l2sq, rank) —
    the no-refine return shape of ivfpq_index_query."""

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame(
                {"query_id": [], "corpus_id": [], "approx_l2sq": []}
            )
        cm, bk = b_model.value
        n_sub, mm, ds = bk.shape
        cell = int(cdf["cell"].iloc[0])
        order = cdf["corpus_id"].to_numpy().argsort(kind="stable")
        cids = cdf["corpus_id"].to_numpy()[order]
        codes = np.vstack(cdf["codes"].to_numpy()[order]).astype("int64")
        Q = np.vstack(qdf["qv"].to_numpy()).astype("float64")
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1)[:, None], 1e-12)
        Rq = Q - cm[cell]
        T = np.empty((len(Q), n_sub, mm))
        for s in range(n_sub):
            Rs = Rq[:, s * ds : (s + 1) * ds]
            T[:, s, :] = ((Rs[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
        D = T[:, np.arange(n_sub)[None, :], codes[:, :]].sum(axis=2)
        kb = min(k, D.shape[1])
        part = np.argsort(D, axis=1, kind="stable")[:, :kb]
        qids = qdf["query_id"].to_numpy()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kb),
                "corpus_id": cids[part].ravel(),
                "approx_l2sq": D[np.arange(len(qids))[:, None], part].ravel(),
            }
        )

    enc = enc.withColumn("cell", F.col("cell").cast("long"))
    qd = qd.withColumn("cell", F.col("cell").cast("long"))
    cands = (
        enc.groupby("cell")
        .cogroup(qd.groupby("cell"))
        .applyInPandas(
            score, schema="query_id long, corpus_id long, approx_l2sq double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_l2sq"), F.asc("corpus_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_l2sq", "rank")
    )


def ivfpq_index_compact(spark, index_path: str, label: str = "compacted") -> dict:
    """OPTIMIZE for the IVFPQ code postings: fold the listed batches
    into one cell-partitioned batch (same pruned layout, O(cells) files
    instead of O(batches x cells); see ``_compact_postings``)."""
    return _compact_postings(
        spark, index_path, IVFPQ_INDEX, _IVFPQ_POSTINGS, label
    )


def filtered_knn(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 10,
    mode: str = "pre",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector search with a metadata filter — the search service's
    vector filter modes (AI Search ``vectorFilterMode``):

    - ``mode="pre"`` (preFilter): restrict the corpus FIRST, then
      exact top-k over the survivors.  Guarantees k results whenever
      k survivors exist; cost O(|survivors| x |Q|) — the right mode
      for selective filters.
    - ``mode="post"`` (postFilter): top-k over the FULL corpus, then
      drop hits failing the filter — can return FEWER than k per
      query (the documented service caveat, reproduced exactly);
      pairs naturally with an ANN index on the unfiltered corpus.

    Scoring is the integer-quantized dot (the q19/q64 determinism
    convention — oracle-exact in any SQL engine); self-pairs are
    excluded.  Queries broadcast; the corpus never shuffles until the
    k-row-per-query window merge.

    ``predicate``: a Column or SQL string over the corpus columns."""
    if mode not in ("pre", "post"):
        raise ValueError(f"mode must be 'pre' or 'post': {mode!r}")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    base = corpus.filter(pred) if mode == "pre" else corpus
    c = base.select(
        F.col(id_col).alias("corpus_id"), _qvec(F.col(vec_col)).alias("cq")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("qq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("cq"), F.col("qq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", dot.alias("dot_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("corpus_id")
    )
    hits = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "corpus_id", "dot_q")
    )
    if mode == "pre":
        return hits
    keep = corpus.filter(pred).select(F.col(id_col).alias("corpus_id"))
    return hits.join(F.broadcast(keep), "corpus_id", "left_semi").select(
        "query_id", "rank", "corpus_id", "dot_q"
    )


def rp_sign_rows(dim: int, out_dim: int) -> list[tuple[int, int, int]]:
    """Deterministic sparse random-projection matrix (Achlioptas 2003:
    entries +1/0/-1 with density 1/3) as its NONZERO (i, j, sign)
    triples, 0-based.  The 'randomness' is a fixed integer hash of the
    coordinates — no RNG state — so any engine regenerates the
    identical matrix: the oracle embeds these triples as a VALUES
    table and must reproduce the projections bit for bit."""
    import hashlib

    rows = []
    for i in range(dim):
        for j in range(out_dim):
            # a REAL mix, not an affine map: (a*i + b*j + c) % 6 makes
            # column pairs with 3(j-j') ≡ 0 (mod 6) byte-identical —
            # 16 columns collapse to 2 distinct directions and the
            # sketch is useless.  md5 of the coordinates is
            # deterministic, portable, and independent per cell.
            h = int.from_bytes(
                hashlib.md5(f"rp:{i}:{j}".encode()).digest()[:8], "big"
            ) % 6
            if h == 0:
                rows.append((i, j, 1))
            elif h == 1:
                rows.append((i, j, -1))
    return rows


def project_embeddings(
    emb: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    proj_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss sketch: quantize each vector (the module's
    round(x*1000) convention) and multiply by the deterministic sparse
    sign matrix — one Arrow-batched int64 matmul per batch, exact and
    engine-portable.  A 64→16 projection cuts every downstream
    dot-product scan 4× while JL keeps relative distances; pair with
    ``quantized_dot_top1(..., quantize=False)`` for search in the
    sketch space (q175), or use it as a cheap pre-filter whose
    candidates are re-ranked at full dimension."""
    from pyspark.sql.functions import pandas_udf

    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(emb)

    @pandas_udf("array<long>")
    def _proj(v: pd.Series) -> pd.Series:
        mat = _quantize_np(np.vstack(v.to_numpy()))
        R = np.zeros((mat.shape[1], out_dim), dtype="int64")
        for i, j, s in rp_sign_rows(mat.shape[1], out_dim):
            R[i, j] = s
        return pd.Series(list(mat @ R))

    return emb.withColumn(proj_col, _proj(F.col(vec_col)))


def sketch_rerank_top1(
    emb: DataFrame,
    out_dim: int = 16,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int = 4096,
) -> DataFrame:
    """TWO-STAGE ANN — the production pattern the JL sketch exists
    for: (1) scan in sketch space (``out_dim``-wide int64 dots, 4×
    cheaper at 64→16) keeping a per-query ``shortlist``; (2) re-rank
    ONLY the shortlist at full dimension with the exact quantized dot
    (JVM-side zip_with aggregate — the candidates are |Q|·shortlist
    rows, never a corpus pass) and keep the winner.  Output
    (id, nn_id, dot) with dot = the FULL-dimension quantized dot and
    the module's (dot desc, id asc) tie-break — deterministic and
    oracle-reproducible end to end, unlike sampled ANN.  Recall is
    governed by the JL distortion at ``out_dim`` and recovered by
    ``shortlist`` depth."""
    proj = project_embeddings(
        emb, out_dim, id_col=id_col, vec_col=vec_col
    ).select(id_col, "proj")
    cand = quantized_dot_topk(
        proj, k=shortlist, vec_col="proj", id_col=id_col,
        tile_rows=tile_rows, quantize=False,
    ).select(F.col(id_col), F.col("nn_id"))
    qv = emb.select(
        F.col(id_col), _qvec(F.col(vec_col)).alias("__qv")
    )
    pairs = (
        cand.join(qv.withColumnRenamed("__qv", "__qq"), on=id_col)
        .join(
            qv.withColumnRenamed(id_col, "nn_id").withColumnRenamed(
                "__qv", "__cv"
            ),
            on="nn_id",
        )
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with("__qq", "__cv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    return (
        pairs.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("dot"), (-F.col("nn_id")).alias("neg"))
            ).alias("m")
        )
        .select(
            F.col(id_col),
            (-F.col("m.neg")).alias("nn_id"),
            F.col("m.dot").alias("dot"),
        )
    )
