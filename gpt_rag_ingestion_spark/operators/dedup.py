"""Deduplication operators for LLM training-data pipelines.

Beyond-reference operators (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash.  All built from
DataFrame primitives — hashing, explode, joins — no Python in the hot
path, so each scales to 100 TB as a handful of shuffles on compact
keys.

Scale design:
- exact dedup: one shuffle on a 16-byte digest (never on the text).
- shingling explodes to ~tokens×1 rows but each row is (doc_id, 8-byte
  hash) after hashing — the join key is the hash, not the shingle text.
- MinHash: signatures are built with one groupBy over hashed shingles
  (min of k independent salted hashes == k permutations), then LSH
  bands shuffle only (band_hash, doc_id) pairs.  Candidate pairs get
  verified with an exact Jaccard join, so false positives cost only
  verification work, never correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import batch_manifest as bm


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical documents: md5(text) -> keeper (min id),
    group size.  One shuffle on the digest."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, token) — relational tokenization via posexplode/split.

    Deliberately NOT spread here: consumers aggregate immediately
    (simhash votes, postings counts), and a keyless round-robin
    repartition adds an AQE stage wave that costs more than the
    parallel tokenization saves (measured +0.15 s on q17 at sf0.1).
    Callers that DO want parallelism pre-spread hash-partitioned on
    their aggregation key (see ``simhash``/``word_shingles``), which
    the downstream groupBy reuses — net zero extra exchanges."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")


def word_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    spread: bool = True,
) -> DataFrame:
    """(id, shingle) distinct word n-grams.

    Built as a narrow array transform (sequence over the token array +
    concat of adjacent slots) with a PER-ROW ``array_distinct`` before
    the explode — a document's shingles all live in its own array, so
    deduping them is local and the whole operator is shuffle-free
    (an ``explode().distinct()`` formulation would shuffle every
    shingle STRING once per corpus pass).  PRECONDITION: ``id_col`` is
    unique per row — the local dedup cannot collapse shingles across
    two rows that share an id, so a doubly-ingested document would
    double its shingle counts (run ``exact_duplicates``/the freshness
    merge first, which the ingest pipeline does by construction).
    Equivalent to the relational positional-self-join formulation used
    by the SQL oracle (with ``\\s+`` splitting, empty tokens can only
    appear at position 0, so filtering them never creates mid-sequence
    gaps)."""
    from gpt_rag_ingestion_spark.session import spread_small_input

    # spread an unsplittable small-file input across cores BEFORE the
    # narrow shingle build: a single-row-group parquet scan is one task,
    # and without this every concat/hash below runs on one core while
    # the rest of the cluster idles (guide §2.5).  Hash-partitioned on
    # the doc id so minhash_signatures' groupBy(id) reuses the exchange
    # (§2.4).  No-op at real scale.  ``spread=False`` is for callers
    # shingling a MICRO-BATCH whose plan contract forbids id-keyed
    # exchanges (the sidecar steady-state rule): bounded batches don't
    # need the parallelism and must not pay the exchange.
    if spread:
        df = spread_small_input(df, by=id_col)
    # materialize the token array once — referencing the split expression
    # inside the transform lambda would re-evaluate it per element (O(n^2))
    with_toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "").alias("_toks"),
    )
    return with_toks.select(
        F.col(id_col),
        F.explode(_distinct_shingle_array(F.col("_toks"), n)).alias("shingle"),
    )


def _distinct_shingle_array(toks, n: int):
    """ARRAY<STRING> of the row's distinct word n-grams (the shared
    shingle expression of ``word_shingles``/``ngram_jaccard_pairs``)."""
    # guard: sequence(0, -1) would DESCEND, so short docs get an empty array
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.05,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard: explode shingles, join on
    shingle, |A∩B| via groupBy-count, |A∪B| = |A|+|B|-|A∩B|.

    Exact integer arithmetic until the final division so the result is
    engine-independent (oracle-checkable).

    ``candidates`` (id_a, id_b) restricts verification to a candidate
    pair set — the LSH-first composition the 100 TB path mandates:
    shingles of non-candidate docs never enter the self-join, and only
    candidate pairs are scored.

    Scale note: the self-join runs on xxhash64(shingle) — an 8-byte
    fixed-width key instead of shingle text, shrinking shuffle volume by
    ~an order of magnitude.  Collisions would need ~2^32 distinct
    shingles to matter (birthday bound); at that corpus size use the
    MinHash+LSH candidate path with this as the verifier.

    PRECONDITION (inherited from ``word_shingles``): ``id_col`` is
    unique per row — a doubly-ingested id double-counts its shingles,
    inflating |A|, |B| and intersections.  Dedup ids first
    (``exact_duplicates`` / the freshness merge) when uniqueness is not
    guaranteed by construction.

    Physical shape (r12): ONE shingle subtree and ZERO size joins.
    Each exploded row carries its document's shingle count (|A|)
    alongside the 8-byte shingle hash — a lambda let-binding evaluates
    the shingle array once per row — so |A|/|B| ride through the
    self-join as extra groupBy keys instead of being recomputed by a
    separate size aggregation and re-attached with two joins.  The
    former formulation built the shingle subtree four times (two join
    sides + two size aggregations, partially collapsed by exchange
    reuse) and paid two broadcast builds; this one builds it once
    (AQE reuses the identical exchange for both join sides), keeps the
    codegen'd shuffled-hash join + hash-agg pipeline, and drops the
    joins entirely (measured ~25% faster at sf0.1, identical rows)."""
    from gpt_rag_ingestion_spark.session import spread_small_input

    src = spread_small_input(df, by=id_col)
    with_toks = src.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "").alias("_toks"),
    )
    arr = _distinct_shingle_array(F.col("_toks"), n)
    # lambda let-binding: transform(array(arr), a -> ...) binds the
    # computed array to `a`, so size(a) inside the inner lambda does NOT
    # re-evaluate the shingle build (higher-order-function subtrees are
    # excluded from codegen subexpression elimination, so a plain double
    # reference would compute the array twice per row).
    shingle_n = F.flatten(
        F.transform(
            F.array(arr),
            lambda a: F.transform(
                a,
                lambda x: F.struct(
                    F.xxhash64(x).alias("shingle"),
                    F.size(a).cast("long").alias("n"),
                ),
            ),
        )
    )
    sh = with_toks.select(
        F.col(id_col), F.explode(shingle_n).alias("s")
    ).select(
        F.col(id_col),
        F.col("s.shingle").alias("shingle"),
        F.col("s.n").alias("n_shingles"),
    )
    if candidates is not None:
        cand_docs = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(cand_docs, on=id_col, how="left_semi")
    # pin the self-join to SHUFFLED HASH on the 8-byte key: the shingle
    # stream is corpus-sized, so Catalyst's file-size estimate (tiny for
    # a narrow explode over small parquet) must never tempt it into
    # broadcasting a side that is O(corpus) at 100 TB; shuffled hash
    # also skips the sort a merge join would pay on a high-cardinality
    # integer key.
    a = sh.hint("shuffle_hash").alias("a")
    b = sh.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_shingles").alias("n_a"),
            F.col("b.n_shingles").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, on=["id_a", "id_b"], how="left_semi")
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )
    return out


#: universal-hash minhash constants (the 'sha256uh' portable mode):
#: h_i(x) = (a_i * x + b_i) mod P over a 32-bit sha256 fingerprint of
#: the shingle — the classic Broder construction with a 2-universal
#: family.  P = 2^31 - 1 (prime); a_i < P and x < 2^32 keep the
#: product under 2^63 (no int64 overflow in any engine).  The oracle
#: SQL derives the SAME constants from these helpers.
UH_PRIME = 2147483647


def uh_a(i: int) -> int:
    return ((2 * i + 1) * 2654435761) % UH_PRIME or 1


def uh_b(i: int) -> int:
    return (i * 40503 + 7) % UH_PRIME


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: k independent salted hash functions
    over the shingle set; min per salt ≈ random permutation minimum.
    One explode + one groupBy — the classic Spark MinHash shape.

    ``hash_fn``: 'xxhash64' (fast path — 8-byte ints), or the
    engine-portable modes:

    - 'sha256uh' (preferred portable): ONE sha256 per shingle; its
      first 8 hex chars parse to a 32-bit fingerprint and k affine
      transforms (a_i * x + b_i mod 2^31-1, constants from
      ``uh_a``/``uh_b``) give the k permutation-mins — the classic
      universal-hashing MinHash.  One digest instead of k/8, integer
      mins instead of string mins: the signature stage measures ~2x
      cheaper than 'sha256' at num_hashes=16 (sf0.1), and every step
      is exact integer arithmetic any engine reproduces.
    - 'sha256' / 'md5': lexicographic min over fixed-width lowercase
      hex digest slices (ceil(k/8) or ceil(k/4) salted digests per
      shingle — the b-bit minwise slice trick)."""
    sh = word_shingles(df, text_col, id_col, n)
    if hash_fn == "sha256uh":
        x = F.conv(
            F.substring(F.sha2(F.col("shingle"), 256), 1, 8), 16, 10
        ).cast("long")
        sh = sh.select(F.col(id_col), x.alias("_x"))
        # one SQL-parse round-trip per aggregate instead of ~10 py4j
        # calls of Column algebra (guide §5 driver overhead; proven
        # sameSemantics + equal schema vs the Column form — the parser
        # yields the identical unresolved tree, constants are int32
        # literals both ways)
        aggs = [
            F.expr(f"min(({uh_a(i)} * _x + {uh_b(i)}) % {UH_PRIME}) AS mh_{i}")
            for i in range(num_hashes)
        ]
        return sh.groupBy(id_col).agg(*aggs)
    if hash_fn in ("md5", "sha256"):
        per = 4 if hash_fn == "md5" else 8
        mk = (
            (lambda c: F.md5(c))
            if hash_fn == "md5"
            else (lambda c: F.sha2(c, 256))
        )
        n_digests = -(-num_hashes // per)
        sh = sh.select(
            F.col(id_col),
            *[
                mk(F.concat(F.lit(f"s{d}:"), F.col("shingle"))).alias(f"_d{d}")
                for d in range(n_digests)
            ],
        )
        aggs = [
            F.min(
                F.substring(F.col(f"_d{i // per}"), 8 * (i % per) + 1, 8)
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(
                F.xxhash64(F.concat(F.lit(f"s{i}:"), F.col("shingle")))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of r rows;
    docs sharing any band-hash become candidate pairs.  Output is
    distinct (id_a < id_b) candidate pairs — feed to
    ``ngram_jaccard_pairs``-style verification for exactness.
    PRECONDITION: ``id_col`` unique per row (see ``word_shingles`` —
    duplicate ids corrupt the per-doc signatures)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, hash_fn=hash_fn)

    def band_hash(b: int):
        cols = [F.col(f"mh_{i}") for i in range(b * r, (b + 1) * r)]
        if hash_fn in ("md5", "sha256", "sha256uh"):
            # the concatenated minima ARE the band key — no extra hash
            # round needed for an equality join
            return F.concat_ws("|", *cols)
        return F.xxhash64(*cols)

    # one pass: explode (band, band_hash) structs — computing signatures
    # once, not once per band (a per-band union would recompute the whole
    # shingle aggregation `bands` times).  sha256uh with r=2 builds the
    # whole array in ONE SQL parse; its band key is base-P positional
    # packing, collision-free because minima are < P ((P-1)*P + P-1 <
    # 2^63).  Other modes keep the Column form.
    if hash_fn == "sha256uh" and r == 2:
        band_structs = F.expr(
            "array("
            + ", ".join(
                f"named_struct('band', {b}, 'band_hash',"
                f" mh_{2 * b} * {UH_PRIME} + mh_{2 * b + 1})"
                for b in range(bands)
            )
            + ")"
        )
    else:
        band_structs = F.array(
            *[
                F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
                for b in range(bands)
            ]
        )
    band_rows = sig.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))
    # Pair generation as ONE groupBy + bucket-local expansion instead of
    # a self-join: a join would either broadcast an O(corpus) side
    # (wrong at scale) or shuffle band_rows twice and recompute the
    # signature aggregation per side (self-join exchanges don't always
    # canonicalize to one).  Here the signature pass runs exactly once,
    # the only corpus shuffle is the bucket groupBy, and the i<j pair
    # set of each bucket unfolds JVM-side from the sorted member array
    # — quadratic only within a bucket, which LSH banding bounds by
    # design (a degenerate all-identical corpus is quadratic in ANY
    # pairwise formulation, including the join it replaces).
    # collect_list, not collect_set: each doc emits exactly ONE row per
    # band (the signature relation is one row per doc id — the
    # ``word_shingles`` uniqueness precondition), so a (band, band_hash)
    # bucket's members are already distinct and the per-group hash-set
    # dedup is pure overhead (r12 A/B: list wins 8/12 interleaved pairs,
    # med -3%; at scale the win is the dropped per-element set insert).
    # sort_array keeps the member order deterministic either way.
    buckets = (
        band_rows.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    ids = F.col("_ids")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids) - i),
                lambda x: F.struct(
                    F.element_at(ids, i).alias("id_a"), x.alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_qdot: int = 450_000,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs (id_a < id_b) whose
    integer-quantized dot product (≈ cosine × 10^6 for unit vectors)
    reaches ``min_qdot``.  Exact integers — oracle-checkable.

    Physical plan mirrors quantized_dot_top1: hash-tiled block-nested
    loop — each (query-block, corpus-tile) group does one int64 matmul
    inside a cogrouped applyInPandas and emits only above-threshold
    pairs; a pair (a, b) lands in exactly one group, so the union needs
    no dedup.  No driver-side corpus collect at any size.  At 100 TB
    prefer LSH/IVF candidate generation (minhash_lsh_candidates /
    lsh_bucketed_ann) with this exact scorer as the verifier."""
    import numpy as np
    import pandas as pd

    from gpt_rag_ingestion_spark.operators.similarity import (
        _quantize_np,
        tiled_block_pairs,
    )
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(emb)
    base = emb.select(id_col, vec_col)
    c, q = tiled_block_pairs(base, base, 4096, id_col, vec_col)

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "qdot": []})
        cids = cdf["cid"].to_numpy()
        cmat = _quantize_np(np.vstack(cdf["cv"].to_numpy()))
        qids = qdf["qid"].to_numpy()
        qmat = _quantize_np(np.vstack(qdf["qv"].to_numpy()))
        dots = qmat @ cmat.T
        qi, ci = np.nonzero((dots >= min_qdot) & (qids[:, None] < cids[None, :]))
        return pd.DataFrame({"id_a": qids[qi], "id_b": cids[ci], "qdot": dots[qi, ci]})

    return (
        c.groupby("qb", "ct")
        .cogroup(q.groupby("qb", "ct"))
        .applyInPandas(score, schema="id_a long, id_b long, qdot long")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint built relationally from md5 nibbles so it is
    exactly reproducible in any engine with md5 (oracle-checkable):

    bit j of simhash = sign of Σ_tokens (±1 by bit j of md5(token)).

    ``bits`` <= 128 (md5 width); default 16 keeps the oracle cheap.
    Everything is integer arithmetic, one groupBy with ``bits`` sums —
    no (token × bit) explosion, no floats."""
    # one hex->int parse per 8-char digest chunk (vs one conv per bit),
    # then per-bit ±1 votes as pure shift/mask exprs and a single
    # groupBy with `bits` sums — no (token x bit) explosion.
    # Convention (same as the oracle SQL): bit j = bit (j%4) of the
    # nibble at hex position j//4.  In a parsed L-char chunk, its m-th
    # nibble occupies value bits [4*(L-1-m), ...+3], so bit j sits at
    # value bit 4*(L - 1 - (j//4)%8) + (j%4) of chunk (j//4)//8.
    # Chunks stay <= 8 chars (32 bits) so the parse never overflows
    # int64 (a whole 16-char parse would at bits > 60).
    from gpt_rag_ingestion_spark.session import spread_small_input

    # hash-spread on the doc id: parallelizes the per-token md5 on an
    # unsplittable input AND the vote groupBy(id) below reuses this
    # exchange (§2.4) — so unlike a round-robin spread (measured net
    # negative here), the total exchange count does not grow.
    df = spread_small_input(df, by=id_col)
    nchars = -(-bits // 4)
    chunk_lens = [min(8, nchars - s) for s in range(0, nchars, 8)]
    h = F.md5(F.col("token"))
    toks = tokenize(df, text_col, id_col).select(
        id_col,
        *[
            F.conv(F.substring(h, 8 * c + 1, L), 16, 10)
            .cast("long")
            .alias(f"x{c}")
            for c, L in enumerate(chunk_lens)
        ],
    )
    # Σ(±1) votes re-expressed as indicator sums: bit j's vote is
    # positive iff 2·(#tokens with bit set) > #tokens — same sign test,
    # but the per-token row is a raw shift/mask (no 16 branchy
    # when-exprs) and the aggregate sums the indicator directly
    # (measured ~30% off the query at sf0.1; identical simhash).
    # the per-bit indicator sums and the CASE|shiftleft assembly chain
    # are built as SQL text — one parse round-trip per expression
    # instead of ~8 py4j calls of Column algebra each (guide §5 driver
    # overhead; both forms proven sameSemantics + equal schema)
    ones_cols = []
    for bit in range(bits):
        n = bit // 4
        c, m = n // 8, n % 8
        pos = 4 * (chunk_lens[c] - 1 - m) + (bit % 4)
        ones_cols.append(F.expr(f"sum(shiftright(x{c}, {pos}) & 1) AS o{bit}"))
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nt"), *ones_cols
    )
    # shiftleft, not a 1<<bit literal: bit 63 overflows a positive
    # long literal but is a valid sign-bit pattern under shift
    sim = F.expr(
        " | ".join(
            f"(CASE WHEN o{bit} * 2 > _nt"
            f" THEN shiftleft(CAST(1 AS BIGINT), {bit})"
            f" ELSE CAST(0 AS BIGINT) END)"
            for bit in range(bits)
        )
    )
    return votes.select(F.col(id_col), sim.alias("simhash"))


def duplicate_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    left: str = "id_a",
    right: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs — the
    clustering step that turns pairwise dedup output (MinHash/LSH,
    SimHash, embedding near-dup) into keep/drop decisions, as LLM-corpus
    pipelines do (cluster, keep one canonical document per cluster).

    Output: (id_col, cluster_id, cluster_size, is_canonical) where
    cluster_id = min doc id in the component and is_canonical marks the
    kept representative.  When ``nodes`` is given (a DataFrame with
    ``id_col``), unpaired documents appear as singleton clusters.

    Algorithm: min-label propagation with pointer jumping.  Every node
    starts labeled with itself; each round a node adopts the minimum
    label in its closed neighborhood, then labels are contracted one
    hop (label <- label(label)), the classic pointer-doubling step, so
    convergence is O(log diameter) rounds, not O(diameter).

    Scale design (100 TB): each round is two shuffle joins on 8-byte
    ids — (edges ⋈ labels) and the pointer jump — no text, no vectors,
    no driver-side state; the per-round convergence check is a
    LIMIT-1 count.  `localCheckpoint` truncates lineage so the plan
    stays O(1) per round instead of growing with iterations.  Near-dup
    graphs are unions of near-cliques (banding emits most intra-cluster
    pairs directly), so observed rounds ~2-3; for adversarial
    high-diameter graphs the alternating large-star/small-star scheme
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    bounds rounds the same way with the same join shape.
    """
    edges = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("dst_label")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
            .select(F.col("src").alias("id"), "nbr_label")
        )
        stepped = labels.join(nbr_min, on="id", how="left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label <- label(label) (labels only shrink, so
        # the parent's label is always <= ours)
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("id").alias("label"), F.col("label").alias("parent")
                ).alias("b"),
                on="label",
                how="left",
            )
            .select(
                F.col("a.id").alias("id"),
                F.coalesce("b.parent", "a.label").alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break

    if nodes is not None:
        labels = (
            nodes.select(F.col(id_col).alias("id"))
            .join(labels, on="id", how="left")
            .select("id", F.coalesce("label", F.col("id")).alias("label"))
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, on="label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.col("cluster_size"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at
    least ``min_overlap`` distinct word ``n``-grams with any document in
    the (small) benchmark/eval set — the standard pre-training hygiene
    step that keeps test data out of the training corpus (the reference
    has no analog; this is a beyond-reference training-data operator).

    Output per corpus doc: ``n_shingles`` (distinct n-grams),
    ``n_overlap`` (how many also occur in the benchmark),
    ``contaminated``.

    100 TB design: benchmark n-gram sets are tiny next to the corpus
    (eval suites are MBs, corpora are TBs) — the distinct benchmark
    shingle-hash set is broadcast, so the corpus side is ONE narrow
    scan (shingle transform + broadcast semi-probe) plus a groupBy on
    ``id_col``; the corpus never shuffles on shingles.  Join keys are
    xxhash64 digests (8 bytes), never shingle text."""
    bench_sh = (
        word_shingles(benchmark, text_col, id_col, n)
        .select(F.xxhash64("shingle").alias("shingle_h"))
        .distinct()
    )
    corp_sh = word_shingles(corpus, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle_h")
    )
    sizes = corp_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corp_sh.join(F.broadcast(bench_sh), on="shingle_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        sizes.join(hits, on=id_col, how="left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .withColumn("contaminated", F.col("n_overlap") >= min_overlap)
    )


def semdedup(
    emb: DataFrame,
    n_centroids: int = 16,
    min_qdot: int = 450_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping all-but-one of
    each within-cluster near-duplicate group.

    Composition of existing scale primitives:
    1. spherical k-means centroids on a bounded driver sample
       (similarity.fit_spherical_centroids — standard IVF practice),
    2. one vectorized UDF pass assigns every vector to a cell,
    3. within each cell, an int64 matmul emits pairs with quantized
       dot >= ``min_qdot`` (cells are the only corpus shuffle; the
       cross-cluster pair space is never materialized — that is the
       whole point of SemDeDup),
    4. duplicate_clusters turns pairs into (cluster_id, is_canonical).

    Output: (id_col, cell, cluster_id, cluster_size, is_canonical);
    ``is_canonical=false`` rows are the semantic duplicates to drop.

    100 TB: pair work is O(Σ cell_size²) — raise ``n_centroids`` so the
    expected cell size is bounded (FAISS-style sqrt(N) centroids); the
    kept-set decision is deterministic (min-id canonical), so re-runs
    are stable.  A vector in a cell boundary region can miss a
    near-dup in the adjacent cell — the recall/cost tradeoff SemDeDup
    explicitly accepts."""
    import numpy as np
    import pandas as pd

    from gpt_rag_ingestion_spark.operators.similarity import (
        _quantize_np,
        cell_assign_udf,
        fit_spherical_centroids,
    )
    from gpt_rag_ingestion_spark.session import ensure_importable

    ensure_importable(emb)
    C = fit_spherical_centroids(emb, n_centroids, id_col=id_col, vec_col=vec_col)
    b_c = emb.sparkSession.sparkContext.broadcast(C)
    cell_udf = cell_assign_udf(b_c)

    assigned = emb.select(
        F.col(id_col), F.col(vec_col), cell_udf(F.col(vec_col)).alias("cell")
    )

    def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids = pdf[id_col].to_numpy()
        M = _quantize_np(np.vstack(pdf[vec_col].to_numpy()))
        dots = M @ M.T
        ai, bi = np.nonzero((dots >= min_qdot) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bi]})

    pairs = assigned.groupBy("cell").applyInPandas(
        pairs_fn, schema="id_a long, id_b long"
    )
    clusters = duplicate_clusters(
        pairs, nodes=assigned.select(F.col(id_col)), id_col=id_col
    )
    return assigned.select(id_col, "cell").join(clusters, on=id_col)


def duplicated_span_mass(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 50,
) -> DataFrame:
    """Exact-substring duplication mass (the RefinedWeb/MassiveText
    "fraction of characters in duplicate n-grams" signal, and the
    aggregate form of Lee et al. 2021 exact-substring dedup): a
    character position is *duplicated* when its ``width``-char gram
    occurs at least twice anywhere in the corpus (any document, any
    offset — within-doc repeats count).

    Output per doc: ``n_positions`` (= max(len-width+1, 0)),
    ``n_dup_positions``, ``dup_heavy`` (more than 20 % duplicated, by
    integer cross-multiply).

    100 TB design: rolling grams are a narrow array transform; all
    corpus-wide state moves as xxhash64 digests — one groupBy on the
    8-byte gram hash (count), one semi-probe join back, one groupBy on
    doc — so shuffle volume is O(total chars) of fixed 16-byte rows,
    never text.  For true substring *removal* (not scoring), stride the
    grams and merge overlapping hits per doc downstream."""
    c = F.col(text_col)
    grams = F.when(
        F.length(c) >= width,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (width - 1)),
            lambda i: c.substr(i, F.lit(width)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = df.select(
        F.col(id_col),
        F.explode(grams).alias("gram"),
    ).select(F.col(id_col), F.xxhash64("gram").alias("gh"))
    counts = pos.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = counts.filter(F.col("n_occ") >= 2).select("gh")
    per_doc = (
        pos.join(dup, on="gh", how="left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_positions"))
    )
    base = df.select(
        F.col(id_col),
        F.greatest(
            F.length(c) - (width - 1), F.lit(0)
        ).cast("long").alias("n_positions"),
    )
    return (
        base.join(per_doc, on=id_col, how="left")
        .withColumn(
            "n_dup_positions", F.coalesce(F.col("n_dup_positions"), F.lit(0))
        )
        .withColumn(
            "dup_heavy",
            F.col("n_dup_positions") * 5 > F.col("n_positions"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 40,
    min_count: int = 2,
) -> DataFrame:
    """Span-level dedup with REMOVAL (the CCNet line-dedup analog —
    Wenzek et al. 2020 drop duplicated lines/paragraphs before model
    training; with no line structure the unit is a fixed ``span``-char
    slice): every slice whose exact text occurs >= ``min_count`` times
    corpus-wide (any doc, any slot) is cut, and the surviving slices
    re-concatenate in order into ``cleaned_text``.

    Complements ``duplicated_span_mass`` (which only SCORES
    duplication): this one produces the cleaned corpus.

    Output: (id, n_chars_before, cleaned_text, n_chars_after).

    100 TB design: slicing is a narrow array transform; the corpus-wide
    occurrence count and the keep-probe both move 8-byte xxhash64
    digests, never text (one count shuffle + one semi-join); reassembly
    is one groupBy(doc) of (pos, slice) structs via array_sort —
    shuffle volume is O(kept text). Docs whose every slice is cut stay
    present with empty cleaned_text via the final left join."""
    c = F.col(text_col)
    n_spans = F.greatest(
        ((F.length(c) - 1) / span).cast("int"), F.lit(0)
    ) + F.lit(1)
    segs = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda i: c.substr(i * span + 1, F.lit(span)),
                )
            ).alias("pos", "seg"),
        )
        .filter(F.length("seg") >= 1)
        .withColumn("gh", F.xxhash64("seg"))
    )
    rare = (
        segs.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") < min_count)
        .select("gh")
    )
    cleaned = (
        segs.join(rare, on="gh", how="left_semi")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
            ).alias("cleaned_text")
        )
    )
    return (
        df.select(F.col(id_col), F.length(c).cast("long").alias("n_chars_before"))
        .join(cleaned, on=id_col, how="left")
        .withColumn("cleaned_text", F.coalesce(F.col("cleaned_text"), F.lit("")))
        .withColumn("n_chars_after", F.length("cleaned_text").cast("long"))
    )


def hamming_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """All document pairs whose SimHash Hamming distance is <=
    ``max_distance`` — found with band blocking instead of the
    quadratic all-pairs scan (the perceptual-hash dedup shape: the
    same banded plan works over any content hash, e.g. image pHash).

    Completeness is the pigeonhole guarantee (Manku et al., WWW 2007,
    "Detecting near-duplicates for web crawling"): two hashes within
    distance d < ``bands`` must agree exactly on at least one of the
    ``bands`` equal-width bit bands, so the per-band equality self-join
    finds every qualifying pair; the popcount(xor) filter then removes
    band-collision false positives.  Requires ``max_distance < bands``.

    Scale: the only shuffles are the band join on (band, band-bits) —
    compact integer keys — and the candidate dedup; nothing quadratic
    unless a band value is degenerate-hot (salt or widen bands then)."""
    sims = simhash(df, text_col, id_col, bits=bits)
    return hamming_pairs_from_fingerprints(
        sims, "simhash", id_col, bits=bits, bands=bands,
        max_distance=max_distance,
    )


def hamming_pairs_from_fingerprints(
    df: DataFrame,
    fp_col: str,
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """The banded Hamming search over an ARBITRARY integer fingerprint
    column — text SimHash (``hamming_neardup_pairs``), image/audio
    perceptual hashes, codec-level content hashes: any ``bits``-wide
    signal rides the same pigeonhole-complete plan."""
    if max_distance >= bands:
        raise ValueError("pigeonhole completeness needs max_distance < bands")
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    sims = df.select(F.col(id_col), F.col(fp_col).alias("simhash"))
    banded = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.b", "band.bv")
    # shuffled-hash both sides: O(corpus) stream, never broadcast; the
    # identical shuffles collapse to one via ReuseExchange, so the
    # upstream fingerprint computation runs once, not per join side
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "b", "bv"
    ).hint("shuffle_hash")
    b_side = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "b", "bv"
    ).hint("shuffle_hash")
    cand = (
        a.join(b_side, on=["b", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    dist = F.expr("bit_count(sim_a ^ sim_b)").cast("int")
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def incremental_dedup(
    base: DataFrame,
    incr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Dedup family #8 — the PRODUCTION ingestion shape: classify every
    document of an incoming batch against an existing corpus, without
    ever re-deduplicating the corpus against itself.

    Decisions (first match wins):

    - ``exact_dup_base``  — byte-identical (md5) to a base document;
    - ``exact_dup_batch`` — byte-identical to an earlier (smaller-id)
      document of the same batch;
    - ``near_dup_base``   — word-``n``-gram Jaccard >= ``threshold``
      against some base document;
    - ``new``             — admit.

    Output: one row per increment document —
    ``(doc_id, decision, dup_of)`` where ``dup_of`` is the smallest
    matching base id (exact/near) or the batch-canonical id, NULL for
    ``new``.

    Scale design (the whole point of this operator): the base corpus is
    touched by KEY ONLY — one aggregation of 16-byte digests and one
    pass of 8-byte hashed shingles; base text never enters a shuffle.
    The increment side is batch-sized, so both joins put the small side
    on the build/broadcast side under AQE.  Near-dup verification runs
    only for documents still unresolved after the exact passes (a
    left_semi prune), and in a real deployment the two base-side
    relations (digest index, shingle index + per-doc shingle counts)
    are PRECOMPUTED sidecars maintained incrementally by this very
    operator's admissions — each batch then costs O(batch), not
    O(corpus).  Composes with minhash_lsh_candidates for the
    candidate-restricted variant when increments are large.
    """
    digest = F.md5(F.col(text_col))
    b_min = (
        base.select(digest.alias("digest"), F.col(id_col).alias("_bid"))
        .groupBy("digest")
        .agg(F.min("_bid").alias("dup_of_base"))
    )
    i_dig = incr.select(F.col(id_col), digest.alias("digest"))
    batch_min = i_dig.groupBy("digest").agg(F.min(id_col).alias("batch_min"))
    staged = i_dig.join(b_min, "digest", "left").join(batch_min, "digest")

    # near-dup scan only for docs the exact passes did not resolve
    unresolved = staged.filter(
        F.col("dup_of_base").isNull() & (F.col("batch_min") == F.col(id_col))
    ).select(id_col)
    sh_i = word_shingles(
        incr.join(unresolved, on=id_col, how="left_semi"), text_col, id_col, n
    ).select(F.col(id_col).alias("_iid"), F.xxhash64("shingle").alias("sh"))
    sh_b = word_shingles(base, text_col, id_col, n).select(
        F.col(id_col).alias("_bid"), F.xxhash64("shingle").alias("sh")
    )
    n_i = sh_i.groupBy("_iid").agg(F.count(F.lit(1)).alias("n_i"))
    inter = (
        sh_i.join(sh_b, "sh")
        .groupBy("_iid", "_bid")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # base-side shingle counts only for docs that actually matched
    n_b = (
        sh_b.join(inter.select("_bid").distinct(), "_bid", "left_semi")
        .groupBy("_bid")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    near = (
        inter.join(n_i, "_iid")
        .join(n_b, "_bid")
        .filter(
            F.round(
                F.col("n_inter") / (F.col("n_i") + F.col("n_b") - F.col("n_inter")),
                6,
            )
            >= threshold
        )
        .groupBy("_iid")
        .agg(F.min("_bid").alias("near_of"))
        .withColumnRenamed("_iid", id_col)
    )

    out = staged.join(near, on=id_col, how="left")
    decision = (
        F.when(F.col("dup_of_base").isNotNull(), F.lit("exact_dup_base"))
        .when(F.col("batch_min") < F.col(id_col), F.lit("exact_dup_batch"))
        .when(F.col("near_of").isNotNull(), F.lit("near_dup_base"))
        .otherwise(F.lit("new"))
    )
    dup_of = (
        F.when(F.col("dup_of_base").isNotNull(), F.col("dup_of_base"))
        .when(F.col("batch_min") < F.col(id_col), F.col("batch_min"))
        .otherwise(F.col("near_of"))
    )
    return out.select(
        F.col(id_col),
        decision.alias("decision"),
        dup_of.alias("dup_of"),
    )


def shingle_join_synopsis(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    sample_mod: int | None = None,
) -> DataFrame:
    """One-row synopsis of the shingle self-join's cost — the input to
    ``choose_dedup_strategy`` (SURVEY.md §7's "strategy choosing
    brute-force vs LSH join for dedup" made concrete).

    The exact n-gram Jaccard path (``ngram_jaccard_pairs``) materializes
    Σ_s C(df_s, 2) joined rows — the SECOND MOMENT of the shingle
    frequency distribution, which one groupBy computes exactly:

        est_pairs = Σ over shingles of c*(c-1)/2

    Columns: n_docs, n_shingles (doc,shingle incidences), distinct
    shingles, est_pairs, and hot_shingle_count (max single-shingle
    frequency — the skew indicator: one viral boilerplate shingle of
    frequency f alone contributes f(f-1)/2 pairs).

    Scale design (100 TB): the synopsis is ONE shuffle on 8-byte
    ``xxhash64(shingle)`` keys, the same key the join itself would use —
    strictly cheaper than the join it predicts.  ``sample_mod=k`` keeps
    only shingles with hash % k == 0 (a 1/k universe sample — sampling
    the shingle UNIVERSE, not rows, so each sampled shingle's frequency
    is exact) and scales est_pairs/counts back up by k: the estimator
    stays unbiased while the shuffle shrinks k-fold.

    PRECONDITION: ``id_col`` unique per row (see ``word_shingles`` —
    duplicate ids inflate the second moment and n_shingles)."""
    sh = word_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("h")
    )
    scale = 1 if not sample_mod else sample_mod
    if sample_mod:
        sh = sh.filter(F.pmod(F.col("h"), F.lit(sample_mod)) == 0)
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    syn = freq.agg(
        (F.coalesce(F.sum("c"), F.lit(0)) * scale).alias("n_shingles"),
        (F.count(F.lit(1)) * scale).alias("distinct_shingles"),
        # sum c*(c-1) is even; shiftright keeps the arithmetic integer
        # (a float division would lose exactness past 2^53 pairs)
        (
            F.shiftright(
                F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)), F.lit(0)), 1
            )
            * scale
        ).alias("est_pairs"),
        F.coalesce(F.max("c"), F.lit(0)).alias("hot_shingle_count"),
    )
    return n_docs.crossJoin(syn)


def choose_dedup_strategy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    pairs_per_doc_budget: int = 64,
    sample_mod: int | None = None,
) -> DataFrame:
    """Cost-based physical-strategy choice for near-dup detection: adds
    ``strategy`` ('exact_pair_join' | 'lsh_candidates') to the synopsis.

    Rule: the exact hashed-shingle self-join is the better plan while
    its joined-row count stays O(corpus) — est_pairs <= budget * n_docs
    — because it skips the signature pass and verifies for free.  Past
    that (boilerplate-heavy corpora, viral shingles) the join output
    explodes quadratically and MinHash+LSH banding (signature pass +
    band shuffle, output bounded by collision design) wins.  The
    decision is a deterministic arithmetic predicate over the synopsis,
    so the planner itself is oracle-checkable."""
    syn = shingle_join_synopsis(df, text_col, id_col, n, sample_mod)
    return syn.withColumn(
        "strategy",
        F.when(
            F.col("est_pairs") <= F.col("n_docs") * F.lit(pairs_per_doc_budget),
            F.lit("exact_pair_join"),
        ).otherwise(F.lit("lsh_candidates")),
    )


def neardup_pairs_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    pairs_per_doc_budget: int = 64,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Route to the chosen strategy: exact pair join under the budget,
    else LSH candidates verified by the exact Jaccard on the candidate
    set (both legs end in identical (id_a, id_b, ..., jaccard) rows, so
    callers are strategy-agnostic).  The one-row synopsis is the only
    driver-side materialization — deciding a physical plan from a
    bounded statistic is the same move Spark's AQE makes with runtime
    stats.

    PRECONDITION: ``id_col`` unique per row (see ``word_shingles``);
    both legs and the synopsis assume it."""
    decision = choose_dedup_strategy(
        df, text_col, id_col, n, pairs_per_doc_budget
    ).first()
    if decision["strategy"] == "exact_pair_join":
        return ngram_jaccard_pairs(df, text_col, id_col, n, threshold)
    cands = minhash_lsh_candidates(
        df, text_col, id_col, n, num_hashes=num_hashes, bands=bands
    )
    return ngram_jaccard_pairs(
        df, text_col, id_col, n, threshold, candidates=cands
    )


# ------------------------------------------------------------ dedup sidecar
# Persisted digest/shingle indexes for incremental dedup — the
# production shape incremental_dedup's docstring promises: the base
# corpus's text is read ONCE (at build/admission time); every later
# batch classifies against key-only sidecar tables, so a batch costs
# O(batch + matched keys), never O(corpus).  It is a batch-manifest
# store (operators/batch_manifest, shared with the text index and the
# IVF/IVFPQ indexes): an append writes its three sub-table batches
# unlisted and commits them TOGETHER with the counters in one
# manifest commit, so readers never see a half-admitted batch and the
# counters never disagree with the rows they count.
#
# Rows carry a GENERATION: an appended doc_id SUPERSEDES its earlier
# rows (the merge is delete-then-insert, so a re-admitted id replaced
# its corpus text); classification keeps only each doc's latest
# generation, which keeps sidecar decisions row-for-row equal to the
# text path even across replacements.  Compaction garbage-collects the
# dead generations.
#
# STEADY-STATE COST: meta carries a ``superseded`` counter (docs with a
# dead older generation, bumped at append, zeroed at compact).  When it
# is 0 — the steady state between re-admissions — every doc has exactly
# one generation, so classification skips liveness entirely: no
# aggregation or shuffle of any sidecar table, the postings are only
# streamed under broadcast joins with batch-side keys.  When non-zero,
# the dead set (one row per RE-ADMITTED doc, bounded by
# ``dedup_sidecar_maybe_compact``) is broadcast and the postings are
# liveness-filtered by a broadcast join — the postings are never
# shuffled by doc_id in either state.
#
# Layout under <sidecar_path>/ (plus the batch manifest's _current
# pointer and its ``meta`` copy of the committed manifest):
#   _manifests/<gen>.json             — JSON {gen, n, superseded,
#                                       n_live, batches}: the
#                                       generation, shingle width, docs
#                                       with dead generations, live docs
#   digests/batch=<label>__g<gen>/    — (digest string, doc_id long, gen int)
#   shingles/batch=<label>__g<gen>/   — (sh long, doc_id long, gen int)  xxhash64
#   sizes/batch=<label>__g<gen>/      — (doc_id long, n_shingles long, gen int)

SIDECAR = bm.Store(
    subs=("digests", "shingles", "sizes"), build="dedup_sidecar_build"
)
_SIDECAR_SCHEMAS = {
    "digests": "digest string, doc_id long, gen int",
    "shingles": "sh long, doc_id long, gen int",
    "sizes": "doc_id long, n_shingles long, gen int",
}


def _sidecar_write(docs, sidecar_path, name, text_col, id_col, n, gen) -> int:
    """Write one batch (unlisted until the caller's commit) of all three
    sub-tables; returns its doc count."""
    dig = docs.select(
        F.md5(F.col(text_col)).alias("digest"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(int(gen)).alias("gen"),
    ).persist()
    try:
        n_docs = int(dig.count())
        dig.write.mode("overwrite").parquet(
            bm.batch_path(sidecar_path, "digests", name)
        )
    finally:
        dig.unpersist()
    sh = word_shingles(docs, text_col, id_col, n).select(
        F.xxhash64("shingle").alias("sh"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(int(gen)).alias("gen"),
    ).persist()
    try:
        sh.write.mode("overwrite").parquet(
            bm.batch_path(sidecar_path, "shingles", name)
        )
        sizes = sh.groupBy("doc_id", "gen").agg(
            F.count(F.lit(1)).alias("n_shingles")
        ).select("doc_id", "n_shingles", "gen")
        sizes.write.mode("overwrite").parquet(
            bm.batch_path(sidecar_path, "sizes", name)
        )
    finally:
        sh.unpersist()
    return n_docs


def dedup_sidecar_build(
    corpus: DataFrame,
    sidecar_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> dict:
    """Build the sidecar from the existing corpus — the ONE corpus-text
    pass; every later batch classification reads keys only.  A rebuild
    at the same path replaces the sidecar wholesale: its commit unlists
    every batch of the previous life."""
    spark = corpus.sparkSession
    meta, gen, name = bm.begin_build(spark, sidecar_path, SIDECAR, "build")
    n_docs = _sidecar_write(corpus, sidecar_path, name, text_col, id_col, n, gen)
    bm.commit(
        spark, sidecar_path, SIDECAR, meta, gen,
        add={sub: [name] for sub in SIDECAR.subs},
        remove=meta["batches"] if meta else None,
        n=int(n), superseded=0, n_live=n_docs,
    )
    return {"n_docs": n_docs, "n": n}


def dedup_sidecar_append(
    admitted: DataFrame,
    sidecar_path: str,
    batch_label: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Admit a batch into the sidecar: one batch-text pass writing the
    batch's own dirs under the next generation, committed with the
    counters in one manifest commit.  A replayed admission (same label)
    unlists the label's earlier batch in that commit — it replaces
    itself.  A doc_id that already exists in the sidecar is SUPERSEDED:
    its older generations stop participating in classification,
    mirroring the corpus merge's delete-then-insert.  The
    ``superseded`` counter is bumped by the number of batch doc_ids
    already present (a broadcast semi-join against the digest index —
    the index is only SCANNED, never shuffled)."""
    spark = admitted.sparkSession
    meta, gen, name = bm.begin(spark, sidecar_path, SIDECAR, batch_label)
    batch_ids = admitted.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).distinct()
    n_batch = int(batch_ids.count())
    digests = bm.read_batches(
        spark, sidecar_path, "digests", meta["batches"]["digests"],
        _SIDECAR_SCHEMAS["digests"],
    )
    n_super = int(
        digests.join(F.broadcast(batch_ids), "doc_id", "left_semi")
        .select("doc_id")
        .distinct()
        .count()
    )
    n_docs = _sidecar_write(
        admitted, sidecar_path, name, text_col, id_col, int(meta["n"]), gen,
    )
    bm.commit(
        spark, sidecar_path, SIDECAR, meta, gen,
        add={sub: [name] for sub in SIDECAR.subs},
        remove={
            sub: bm.same_label(meta["batches"][sub], batch_label)
            for sub in SIDECAR.subs
        },
        superseded=int(meta["superseded"]) + n_super,
        n_live=int(meta["n_live"]) + n_batch - n_super,
    )
    return {
        "batch": batch_label, "n_docs": n_docs, "gen": gen,
        "newly_superseded": n_super,
    }


def _sidecar_live(spark, sidecar_path, meta):
    """(digests, shingles, sizes) of the manifest's batches, restricted
    to each doc's LATEST generation — the rows that mirror the current
    corpus.

    Liveness authority is the DIGEST index: it has exactly one row per
    doc per generation (sizes does NOT — a doc with fewer than ``n``
    words shingles to nothing, and deriving liveness from sizes would
    semi-join-drop its digest rows: an exact copy of a short base doc
    would classify 'new', and compaction would delete its index rows).

    ``meta["superseded"]`` drives the cost shape:
    - 0 — steady state: every doc has one generation, the raw tables
      ARE the live tables; no aggregation, no shuffle, no join.
    - > 0: the dead set (one (doc_id, max_gen) row per RE-ADMITTED doc
      — small, bounded by ``dedup_sidecar_maybe_compact``) is computed
      from the digest index and BROADCAST; each table is filtered by a
      broadcast left join.  The postings are never shuffled by doc_id."""
    dig, sh, sizes = (
        bm.read_batches(
            spark, sidecar_path, sub, meta["batches"][sub],
            _SIDECAR_SCHEMAS[sub],
        )
        for sub in SIDECAR.subs
    )
    if int(meta["superseded"]) == 0:
        return dig, sh, sizes
    dead = (
        dig.groupBy("doc_id")
        .agg(F.max("gen").alias("_max_gen"), F.count(F.lit(1)).alias("_ng"))
        .filter(F.col("_ng") > 1)
        .select("doc_id", "_max_gen")
    )

    def live(t):
        return (
            t.join(F.broadcast(dead), "doc_id", "left")
            .filter(
                F.col("_max_gen").isNull()
                | (F.col("gen") == F.col("_max_gen"))
            )
            .drop("_max_gen")
        )

    return live(dig), live(sh), live(sizes)


def incremental_dedup_sidecar(
    incr: DataFrame,
    sidecar_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.1,
    broadcast_max_shingles: int = 20_000_000,
) -> DataFrame:
    """``incremental_dedup`` against the PERSISTED sidecar instead of
    the base corpus text — row-for-row equal output (unit-pinned,
    including across document replacements: only each doc's latest
    generation participates), but the base side is touched by key
    only: the digest index joins on 16-byte digests, the shingle
    postings join on 8-byte hashes, and per-doc sizes come
    precomputed.  Base text is never re-read or re-shingled.

    Cost shape (the 100 TB contract): every sidecar table enters the
    plan as a SCAN streamed under a broadcast join with batch-side
    keys — batch digests probe the digest index, batch shingles probe
    the postings, matched doc ids probe the sizes — so the only
    exchanges carry batch-proportional rows.  In the steady state
    (meta.superseded == 0) there is no liveness work at all; after a
    re-admission the dead set (bounded by
    ``dedup_sidecar_maybe_compact``) is broadcast as a filter.  The
    sidecar is NEVER shuffled by doc_id (asserted in PLANS.md).  The
    batch side of the postings probe is broadcast — keep batches
    micro-batch-sized (split a giant backfill), as the streaming loop
    does.  The broadcast is GATED on a cheap batch-size estimate
    (sum of text lengths / ~6 chars per word ≈ shingle rows, one
    batch-side agg, never touches the sidecar): above
    ``broadcast_max_shingles`` the postings probe degrades to a
    shuffle-hash join — the postings exchange on ``sh`` once instead
    of failing the job on a driver/broadcast OOM."""
    spark = incr.sparkSession
    meta = bm.read_meta(spark, sidecar_path, SIDECAR)
    n = int(meta["n"])
    b_dig, sh_b_raw, sizes = _sidecar_live(spark, sidecar_path, meta)

    digest = F.md5(F.col(text_col))
    i_dig = incr.select(F.col(id_col), digest.alias("digest"))
    # probe-first: restrict the digest index to the batch's digests
    # (broadcast) BEFORE the min-doc aggregation — the groupBy exchange
    # then carries matched rows only, never the whole index
    batch_digs = i_dig.select("digest").distinct()
    b_min = (
        b_dig.join(F.broadcast(batch_digs), "digest", "left_semi")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("dup_of_base"))
    )
    batch_min = i_dig.groupBy("digest").agg(F.min(id_col).alias("batch_min"))
    staged = i_dig.join(F.broadcast(b_min), "digest", "left").join(
        F.broadcast(batch_min), "digest"
    )

    unresolved = staged.filter(
        F.col("dup_of_base").isNull() & (F.col("batch_min") == F.col(id_col))
    ).select(id_col)
    sh_i = word_shingles(
        incr.join(F.broadcast(unresolved), on=id_col, how="left_semi"),
        text_col, id_col, n, spread=False,
    ).select(F.col(id_col).alias("_iid"), F.xxhash64("shingle").alias("sh"))
    sh_b = sh_b_raw.select(F.col("doc_id").alias("_bid"), "sh")
    n_i = sh_i.groupBy("_iid").agg(F.count(F.lit(1)).alias("n_i"))
    # batch shingles broadcast into the postings scan: the postings
    # never shuffle (a plain equi-join would exchange them on sh).
    # Guard the broadcast with a cheap estimate — an oversize batch
    # (backfill routed through the streaming path) would otherwise
    # blow the broadcast/driver limit and fail the job outright.
    est_chars = incr.agg(
        F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("c")
    ).first()["c"]
    est_shingles = int(est_chars) // 6 + 1
    if est_shingles <= broadcast_max_shingles:
        probe = F.broadcast(sh_i).join(sh_b, "sh")
    else:  # degrade: one postings exchange instead of an OOM
        probe = sh_i.hint("shuffle_hash").join(sh_b, "sh")
    inter = probe.groupBy("_iid", "_bid").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    n_b = sizes.select(
        F.col("doc_id").alias("_bid"), F.col("n_shingles").alias("n_b")
    )
    near = (
        F.broadcast(inter.join(F.broadcast(n_i), "_iid"))
        .join(n_b, "_bid")
        .filter(
            F.round(
                F.col("n_inter") / (F.col("n_i") + F.col("n_b") - F.col("n_inter")),
                6,
            )
            >= threshold
        )
        .groupBy("_iid")
        .agg(F.min("_bid").alias("near_of"))
        .withColumnRenamed("_iid", id_col)
    )

    out = staged.join(F.broadcast(near), on=id_col, how="left")
    decision = (
        F.when(F.col("dup_of_base").isNotNull(), F.lit("exact_dup_base"))
        .when(F.col("batch_min") < F.col(id_col), F.lit("exact_dup_batch"))
        .when(F.col("near_of").isNotNull(), F.lit("near_dup_base"))
        .otherwise(F.lit("new"))
    )
    dup_of = (
        F.when(F.col("dup_of_base").isNotNull(), F.col("dup_of_base"))
        .when(F.col("batch_min") < F.col(id_col), F.col("batch_min"))
        .otherwise(F.col("near_of"))
    )
    return out.select(
        F.col(id_col),
        decision.alias("decision"),
        dup_of.alias("dup_of"),
    )


def dedup_sidecar_compact(spark, sidecar_path: str) -> dict:
    """OPTIMIZE + garbage collection for the dedup sidecar: fold each
    sub-table's listed batches into one AND drop superseded
    generations (rows of docs later re-admitted) — classification
    results are byte-identical before and after (unit-pinned).  The
    folded batches land unlisted and one commit lists them in place of
    every old batch, with the counters reset, so the next
    classification takes the zero-work steady-state path."""
    meta, gen, name = bm.begin(spark, sidecar_path, SIDECAR, "compacted")
    out = {}
    for sub, df in zip(SIDECAR.subs, _sidecar_live(spark, sidecar_path, meta)):
        path = bm.batch_path(sidecar_path, sub, name)
        df.write.mode("overwrite").parquet(path)
        out[sub] = int(spark.read.parquet(path).count())
    bm.commit(
        spark, sidecar_path, SIDECAR, meta, gen,
        add={sub: [name] for sub in SIDECAR.subs},
        remove=meta["batches"],
        superseded=0, n_live=out["digests"],
    )
    return out


def dedup_sidecar_maybe_compact(
    spark,
    sidecar_path: str,
    dead_ratio: float = 0.2,
    max_dead: int = 100_000,
) -> dict:
    """Compaction TRIGGER for the dedup sidecar, cheap enough to run
    after every streamed batch (one meta read, no Spark job): compact
    when dead generations exceed ``dead_ratio`` of the live docs OR the
    absolute ``max_dead`` bound.  The absolute bound is what keeps the
    non-steady liveness path honest — the dead set must stay
    broadcastable — and the ratio bound keeps scan waste bounded.
    Classification results are byte-identical across a triggered
    compact (compaction's own contract, unit-pinned)."""
    meta = bm.read_meta(spark, sidecar_path, SIDECAR)
    superseded = int(meta["superseded"])
    n_live = int(meta["n_live"])
    if superseded > 0 and (
        superseded >= max_dead or superseded > dead_ratio * max(n_live, 1)
    ):
        counts = dedup_sidecar_compact(spark, sidecar_path)
        return {"compacted": True, **counts}
    return {"compacted": False, "superseded": superseded, "n_live": n_live}
