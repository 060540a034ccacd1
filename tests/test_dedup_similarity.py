"""Dedup + similarity operator tests (beyond-reference north star)."""

from __future__ import annotations

import pytest

from gpt_rag_ingestion_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from gpt_rag_ingestion_spark.operators.similarity import (
    knn_bruteforce,
    lsh_bucketed_ann,
    quantized_dot_top1,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    other = "completely different content about spark engines and parquet files"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )


def test_exact_duplicates(spark):
    out = exact_duplicates(_docs(spark)).collect()
    groups = {r["keeper_id"]: r["n_docs"] for r in out}
    assert groups[1] == 2  # docs 1,2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.3 <= pairs[(1, 3)] < 1.0  # near-dup
    assert (1, 4) not in pairs


def test_minhash_lsh_candidates_superset_of_high_jaccard(spark):
    docs = _docs(spark)
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, num_hashes=32, bands=16).collect()
    }
    # identical docs always collide in every band
    assert (1, 2) in cands
    # near-dup pair should be caught with 16 bands of width 2
    assert (1, 3) in cands


def test_minhash_sha256uh_mode_candidates(spark):
    """The universal-hash portable mode ('sha256uh': one sha256
    fingerprint + affine transforms mod 2^31-1) keeps the LSH
    guarantees: identical docs collide in every band, near-dups are
    caught, and every minimum is a valid value of the affine family
    (in [0, P))."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        UH_PRIME,
        minhash_signatures,
    )

    docs = _docs(spark)
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=32, bands=16, hash_fn="sha256uh"
        ).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) in cands
    sig = minhash_signatures(docs, num_hashes=8, hash_fn="sha256uh").collect()
    for r in sig:
        for i in range(8):
            assert 0 <= r[f"mh_{i}"] < UH_PRIME


def test_minhash_lsh_bucket_members_need_no_set_dedup(spark):
    """r12: the bucket aggregation uses collect_list, not collect_set —
    valid because the signature relation is one row per doc, so a doc
    lands in a (band, band_hash) bucket AT MOST ONCE.  Pin the pair set
    against an in-test collect_set reference on a corpus of identical
    docs (every band of every doc colliding — the maximal-bucket case
    where a stray duplicate member would fabricate self-pairs or
    duplicate pairs)."""
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.dedup import (
        UH_PRIME,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "same text for every single document here") for i in range(1, 7)]
        + [(7, "an unrelated document about something else entirely")],
        ["doc_id", "text"],
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=16, bands=8, hash_fn="sha256uh"
        ).collect()
    )
    # reference: the pre-r12 collect_set construction, inline
    sig = minhash_signatures(docs, num_hashes=16, hash_fn="sha256uh")
    bands, r = 8, 2
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.col(f"mh_{2 * b}") * F.lit(UH_PRIME) + F.col(f"mh_{2 * b + 1}")
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    band_rows = sig.select(F.col("doc_id"), F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.band_hash"
    )
    buckets = (
        band_rows.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    ref = set()
    for row in buckets.collect():
        ids = row["_ids"]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ref.add((ids[i], ids[j]))
    assert got == sorted(ref)
    # all six identical docs pair with each other, none with the outlier
    assert set(got) == {(a, b) for a in range(1, 7) for b in range(a + 1, 7)}


def test_simhash_near_dups_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), bits=16).collect()}
    assert out[1] == out[2]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[3]) <= hamming(out[1], out[4])


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.9, 0.2]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_quantized_dot_top1(spark):
    out = {r["vec_id"]: r["nn_id"] for r in quantized_dot_top1(_vectors(spark)).collect()}
    assert out[1] == 2
    assert out[2] == 1
    assert out[3] == 4
    assert out[4] == 3


def test_knn_bruteforce_ranks(spark):
    v = _vectors(spark)
    out = knn_bruteforce(v, v, k=2).collect()
    top1 = {r["query_id"]: r["corpus_id"] for r in out if r["rank"] == 1}
    assert top1 == {1: 2, 2: 1, 3: 4, 4: 3}


def test_lsh_ann_recall_vs_bruteforce(spark, tmp_path=None):
    """ANN on real testdata: multi-probe must lift top-1 recall well above
    the single-bucket baseline (neighbors here are weakly similar, so
    single-bucket recall is theoretically low)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r["vec_id"]: r["nn_id"] for r in quantized_dot_top1(emb).collect()}

    def recall(probes):
        ann = lsh_bucketed_ann(emb, emb, dim=64, bits=4, k=1, probes=probes)
        got = {r["query_id"]: r["corpus_id"] for r in ann.collect() if r["rank"] == 1}
        assert got
        return sum(1 for q, n in got.items() if exact.get(q) == n) / len(got)

    r0 = recall(0)
    r2 = recall(2)
    assert r2 > r0
    assert r2 > 0.4


def test_duplicate_clusters_components(spark):
    from gpt_rag_ingestion_spark.operators.dedup import duplicate_clusters

    # components: {1,2,3} via chain 1-2, 2-3; {7,9}; singleton 5 via nodes
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 7)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], ["doc_id"])
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in duplicate_clusters(pairs, nodes=nodes).collect()
    }
    assert out == {
        1: (1, 3, True),
        2: (1, 3, False),
        3: (1, 3, False),
        5: (5, 1, True),
        7: (7, 2, True),
        9: (7, 2, False),
    }


def test_duplicate_clusters_long_chain(spark):
    """Pointer jumping converges on a path graph (worst-case diameter)."""
    from gpt_rag_ingestion_spark.operators.dedup import duplicate_clusters

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    rows = duplicate_clusters(pairs).collect()
    assert len(rows) == n + 1
    assert all(r["cluster_id"] == 0 for r in rows)
    assert sum(r["is_canonical"] for r in rows) == 1


def test_quantized_dot_topk_matches_top1_and_ranks(spark):
    from gpt_rag_ingestion_spark.operators.similarity import (
        quantized_dot_top1,
        quantized_dot_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    topk = quantized_dot_topk(emb, k=3, tile_rows=64).collect()
    per_q = {}
    for r in topk:
        per_q.setdefault(r["vec_id"], []).append(r)
    top1 = {r["vec_id"]: (r["nn_id"], r["dot"]) for r in quantized_dot_top1(emb).collect()}
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        # rank-1 must equal the exact top-1 operator (same tie-break)
        assert (rows[0]["nn_id"], rows[0]["dot"]) == top1[q]
        # ranks are by dot desc then nn_id asc
        keys = [(-r["dot"], r["nn_id"]) for r in rows]
        assert keys == sorted(keys)


def test_tfidf_top_terms_ranking(spark):
    from gpt_rag_ingestion_spark.operators.text_analysis import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared shared shared"),
            (2, "banana cherry shared shared shared shared"),
            (3, "cherry cherry cherry apple shared shared"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"]))
    for rows in per_doc.values():
        rows.sort()
    # doc 1: apple tf=2 df=2 -> 1M; banana tf=1 df=2 -> 500k; shared tf=3 df=3 -> 1M
    # tie at 1M -> tf desc: shared (tf=3) before apple (tf=2)
    assert per_doc[1] == [(1, "shared"), (2, "apple")]
    # doc 3: cherry tf=3 df=2 -> 1.5M wins over shared tf=2 df=3 -> 666k
    assert per_doc[3][0] == (1, "cherry")


def test_ngram_jaccard_candidate_restriction(spark):
    """With a candidate set, only candidate pairs are scored — and the
    scores equal the unrestricted operator's for those pairs."""
    from gpt_rag_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the sleepy dog"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "completely different text about spark engines here"),
        ],
        ["doc_id", "text"],
    )
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.01).collect()
    }
    cands = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    got = ngram_jaccard_pairs(df, threshold=0.01, candidates=cands).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
    assert got[0]["jaccard"] == full[(1, 2)]


def test_kmv_sketch_estimates(spark):
    """KMV estimate within the theoretical error envelope (~2/sqrt(k))
    of the exact distinct count, and exact below the synopsis size."""
    from gpt_rag_ingestion_spark.operators.sketches import kmv_distinct

    rows = [("big", f"tok{i}") for i in range(3000)]
    rows += [("small", f"tok{i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {r["grp"]: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    assert out["small"]["est_distinct"] == 40  # <= k: exact by definition
    assert out["small"]["exact_distinct"] == 40
    big = out["big"]
    assert big["exact_distinct"] == 3000
    assert abs(big["est_distinct"] - 3000) / 3000 < 0.5  # 2/sqrt(64)=0.25, pad 2x


def test_semdedup_pairs_sound_and_canonical(spark):
    from gpt_rag_ingestion_spark.operators.dedup import (
        embedding_neardup_pairs,
        semdedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semdedup(emb, n_centroids=4, min_qdot=450_000)
    rows = out.collect()
    # covers every vector exactly once
    assert len(rows) == emb.count()
    by_id = {r["vec_id"]: r for r in rows}
    # canonical representative is the min id of its cluster
    clusters: dict = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r["vec_id"])
    for cid, members in clusters.items():
        assert cid == min(members)
        assert by_id[cid]["is_canonical"]
        assert all(not by_id[m]["is_canonical"] for m in members if m != cid)
    # soundness: every non-singleton cluster edge came from a true
    # near-dup pair (within-cell pairs are a subset of exact pairs)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, min_qdot=450_000).collect()
    }
    dup_ids = {r["vec_id"] for r in rows if r["cluster_size"] > 1}
    exact_ids = {i for p in exact for i in p}
    assert dup_ids <= exact_ids


def test_duplicated_span_mass(spark):
    from gpt_rag_ingestion_spark.operators.dedup import duplicated_span_mass

    shared = "x" * 26 + "shared-block-" + "y" * 26  # 65 chars, unique-ish
    docs = spark.createDataFrame(
        [
            (1, "AAA " + shared + " TAIL-ONE-" + "a" * 20),
            (2, "BBBBB " + shared + " TAIL-TWO-" + "b" * 20),
            (3, "c" * 80),  # 50-grams repeat WITHIN the doc (all 'c')
            (4, "unique text that is short"),  # < 50 chars: no positions
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in duplicated_span_mass(docs, width=50).collect()}
    assert len(rows) == 4
    # docs 1/2 share ' '+block+' TAIL-' = 72 identical chars: every
    # 50-gram inside that window (72-50+1 = 23 per doc) is duplicated
    assert rows[1]["n_dup_positions"] == 23
    assert rows[2]["n_dup_positions"] == 23
    # doc 3 is a single repeated char: all 31 positions are the same
    # gram, duplicated within the doc itself
    assert rows[3]["n_dup_positions"] == rows[3]["n_positions"] == 31
    assert rows[3]["dup_heavy"]
    assert rows[4]["n_positions"] == 0 and not rows[4]["dup_heavy"]


def test_label_centroid_scores_order(spark):
    from gpt_rag_ingestion_spark.operators.similarity import label_centroid_scores

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.1], 0),
            (3, [-1.0, 0.0], 0),  # opposite direction: the outlier
            (4, [0.0, 1.0], 1),   # singleton label
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in label_centroid_scores(emb).collect()}
    assert rows[3]["outlier_rank"] == 1  # least central in label 0
    assert rows[2]["outlier_rank"] == 3  # most central (closest to sum)
    assert rows[4]["outlier_rank"] == 1  # singleton is its own rank 1
    # exact integer check: sum vector of label 0 = (1000, 100);
    # dot for vec 1 = 1000*1000 + 0*100 = 1_000_000
    assert rows[1]["dot_sum_q"] == 1_000_000


def test_bloom_semijoin_exact_and_pruning(spark):
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.bloomjoin import (
        bloom_bitmap,
        bloom_prune,
        bloom_semijoin,
    )

    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    dim = spark.range(0, 20000, 500).select(F.col("id").alias("dk"))  # 40 keys
    got = bloom_semijoin(fact, dim, "k", "dk")
    want = fact.join(dim.withColumnRenamed("dk", "k"), "k", "left_semi")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    pruned = bloom_prune(fact, "k", bloom_bitmap(dim, "dk"))
    n = pruned.count()
    # never drops a true match; prunes the overwhelming majority
    assert pruned.join(want, "k", "left_semi").count() == want.count() == 40
    assert n < 1000
    # the probe is a broadcast of a single-row bitmap, no extra shuffle
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_span_dedup_removes_repeated_spans(spark):
    from gpt_rag_ingestion_spark.operators.dedup import span_dedup

    # span=4: "AAAA" repeats (docs 1+2 and twice inside doc 3); the
    # unique tails survive, a fully-duplicated doc empties out.
    docs = spark.createDataFrame(
        [
            (1, "AAAAbcde"),
            (2, "AAAAwxyz"),
            (3, "AAAAAAAA"),
            (4, "qrst"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r for r in span_dedup(docs, span=4, min_count=2).collect()
    }
    assert rows[1]["cleaned_text"] == "bcde"
    assert rows[2]["cleaned_text"] == "wxyz"
    assert rows[3]["cleaned_text"] == ""
    assert rows[4]["cleaned_text"] == "qrst"
    assert rows[5]["cleaned_text"] == "" and rows[5]["n_chars_before"] == 0
    assert rows[1]["n_chars_before"] == 8 and rows[1]["n_chars_after"] == 4


def test_pq_ann_refined_recall(spark):
    from collections import defaultdict

    from gpt_rag_ingestion_spark.operators.similarity import (
        pq_ann,
        pq_ann_refined,
        quantized_dot_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 10
    exact = defaultdict(set)
    for r in quantized_dot_topk(emb, k=k).collect():
        exact[r["vec_id"]].add(r["nn_id"])

    refined = pq_ann_refined(emb, emb, k=k).collect()
    got = defaultdict(set)
    for r in refined:
        assert r["corpus_id"] != r["query_id"]  # self excluded
        got[r["query_id"]].add(r["corpus_id"])
    recalls = [len(got[q] & exact[q]) / k for q in exact]
    assert sum(recalls) / len(recalls) > 0.9  # re-rank recovers recall

    # raw PQ ranking at the same code budget is strictly worse — the
    # re-rank stage is what makes PQ usable (and this guards against
    # accidentally making the 'approx' path secretly exact)
    raw = pq_ann(emb, emb, k=k + 1, n_subspaces=16, n_centroids=64).collect()
    raw_sets = defaultdict(set)
    for r in raw:
        if r["corpus_id"] != r["query_id"]:
            raw_sets[r["query_id"]].add(r["corpus_id"])
    raw_recall = sum(len(raw_sets[q] & exact[q]) / k for q in exact) / len(exact)
    assert raw_recall < sum(recalls) / len(recalls)

    # deterministic: a second run returns the identical ranking
    again = pq_ann_refined(emb, emb, k=k).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["corpus_id"]) for r in rows)
    assert key(again) == key(refined)


def test_span_dedup_random_model_check(spark):
    """200 seeded random docs (incl. multi-byte unicode) vs a
    sequential Python model of the same spec — guards the char-based
    (not byte-based) slicing and the reassembly order."""
    import random

    from gpt_rag_ingestion_spark.operators.dedup import span_dedup

    rng = random.Random(42)
    alphabet = "ab α β 漢字 🙂 xyz"
    pieces = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30))) for _ in range(40)]
    docs = []
    for i in range(200):
        # duplicate whole pieces across docs so some spans repeat
        t = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 6)))
        docs.append((i, t))
    span, min_count = 7, 2

    counts = {}
    segs_by_doc = {}
    for i, t in docs:
        segs = [t[p : p + span] for p in range(0, max(len(t), 1), span)]
        segs = [s for s in segs if s]
        segs_by_doc[i] = segs
        for s in segs:
            counts[s] = counts.get(s, 0) + 1
    want = {
        i: "".join(s for s in segs if counts[s] < min_count)
        for i, segs in segs_by_doc.items()
    }

    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in span_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"),
            span=span,
            min_count=min_count,
        ).collect()
    }
    assert got == want


def test_hamming_neardup_complete_vs_bruteforce(spark):
    from itertools import combinations

    from gpt_rag_ingestion_spark.operators.dedup import (
        hamming_neardup_pairs,
        simhash,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 9} delta {i % 4}") for i in range(60)],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neardup_pairs(docs, max_distance=3).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = {
        (a, b): bin(sims[a] ^ sims[b]).count("1")
        for a, b in combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    assert got == want  # pigeonhole blocking loses nothing


def test_hamming_neardup_production_setting(spark):
    """The 64-bit/8-band production configuration (SCALING.md): same
    plan, wider keys; completeness vs brute force still holds."""
    from itertools import combinations

    from gpt_rag_ingestion_spark.operators.dedup import (
        hamming_neardup_pairs,
        simhash,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 5} delta {i % 3} eps") for i in range(40)],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neardup_pairs(
            docs, bits=64, bands=8, max_distance=7
        ).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=64).collect()}
    want = {
        (a, b): bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        for a, b in combinations(sorted(sims), 2)
        if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 7
    }
    assert got == want and len(want) > 0


def test_ivfpq_matches_ivf_recall_at_same_probes(spark):
    """IVFPQ = IVF pruning + PQ compression + exact re-rank: after the
    re-rank, the 16x code compression must cost ~no recall vs plain
    IVF at the same probe setting (the compression only approximates
    the SHORTLIST, and 5x over-fetch absorbs that)."""
    from collections import defaultdict
    from statistics import mean

    from gpt_rag_ingestion_spark.operators.similarity import (
        ivf_ann,
        ivfpq_ann,
        quantized_dot_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 10
    exact = defaultdict(set)
    for r in quantized_dot_topk(emb, k=k).collect():
        exact[r["vec_id"]].add(r["nn_id"])

    def recall(rows):
        a = defaultdict(set)
        for r in rows:
            if r["corpus_id"] != r["query_id"]:
                a[r["query_id"]].add(r["corpus_id"])
        return mean(len(a[q] & exact[q]) / k for q in exact)

    r_ivf = recall(ivf_ann(emb, emb, dim=64, n_centroids=16, n_probe=4, k=k).collect())
    r_ivfpq = recall(ivfpq_ann(emb, emb, k=k, n_cells=16, n_probe=4).collect())
    assert r_ivfpq >= r_ivf - 0.05  # compression ~free after re-rank
    assert r_ivfpq > 0.45

    # probing more cells strictly buys recall (the IVF tradeoff knob)
    r_more = recall(ivfpq_ann(emb, emb, k=k, n_cells=16, n_probe=8).collect())
    assert r_more > r_ivfpq


# ------------------------------------------------- cost-based planner

def test_dedup_planner_synopsis_exact(spark):
    from gpt_rag_ingestion_spark.operators.dedup import (
        choose_dedup_strategy,
        shingle_join_synopsis,
    )

    docs = _docs(spark)
    syn = shingle_join_synopsis(docs).first()
    # docs 1,2 identical (11 shingles each, deduped per doc), doc 3
    # shares most of them; second moment counts every co-occurrence
    assert syn["n_docs"] == 4
    assert syn["distinct_shingles"] < syn["n_shingles"]
    # pairs >= the 11 shingles docs 1/2 share
    assert syn["est_pairs"] >= 11
    assert syn["hot_shingle_count"] == 3  # shingles present in docs 1,2,3

    small = choose_dedup_strategy(docs).first()
    assert small["strategy"] == "exact_pair_join"
    # a boilerplate-heavy corpus (everyone shares the same text) blows
    # the per-doc pair budget -> LSH
    boiler = spark.createDataFrame(
        [(i, "shared boilerplate header words repeated forever") for i in range(40)],
        ["doc_id", "text"],
    )
    assert choose_dedup_strategy(boiler).first()["strategy"] == "lsh_candidates"


def test_neardup_auto_routes_both_ways(spark):
    from gpt_rag_ingestion_spark.operators.dedup import neardup_pairs_auto

    docs = _docs(spark)
    # exact route: equal to the plain exact pair join
    auto = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup_pairs_auto(docs, threshold=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert auto == exact
    # LSH route still verifies with the exact Jaccard on candidates,
    # so identical docs keep jaccard 1.0
    boiler = spark.createDataFrame(
        [(i, "shared boilerplate header words repeated forever") for i in range(12)],
        ["doc_id", "text"],
    )
    routed = neardup_pairs_auto(boiler, threshold=0.9, pairs_per_doc_budget=1)
    rows = routed.collect()
    assert len(rows) == 12 * 11 // 2  # identical docs: all pairs survive
    assert all(r["jaccard"] == 1.0 for r in rows)


# ------------------------------------------------- persisted IVF index

def test_ivf_index_lifecycle(spark, tmp_path, collect_aged):
    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.similarity import (
        IVF_INDEX,
        ivf_index_append,
        ivf_index_build,
        ivf_index_query,
        ivf_needs_refit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    built = ivf_index_build(emb, idx, n_centroids=8)
    assert built["n_vectors"] == emb.count()

    # the persisted index answers exactly like the refit-per-call
    # operator with the same deterministic centroid fit
    from gpt_rag_ingestion_spark.operators.similarity import ivf_ann

    q = emb.filter("vec_id < 20")
    res = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_index_query(spark, idx, q, n_probe=2, k=5).collect()
    }
    direct = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_ann(emb, q, dim=64, n_centroids=8, n_probe=2, k=5).collect()
    }
    assert res == direct

    # cell-partitioned layout exists on disk (the pruning surface)
    files = set()
    for f in spark.read.parquet(f"{idx}/postings").inputFiles():
        files.add(f.split("cell=")[1].split("/")[0])
    assert len(files) == 8

    # append WITHOUT refit: re-inserting the same vectors under new ids
    # makes each twin the top-1 hit of its original (cosine ~1, the
    # self-pair mask only blocks identical ids)
    shifted = emb.filter("vec_id < 10").selectExpr(
        "vec_id + 1000000 as vec_id", "embedding"
    )
    stats = ivf_index_append(shifted, idx, batch_label="b1")
    assert stats["n_vectors"] == 10
    res2 = ivf_index_query(spark, idx, shifted, n_probe=2, k=1)
    top = {r["query_id"]: r["corpus_id"] for r in res2.filter("rank = 1").collect()}
    assert all(top[i] == i - 1000000 for i in top)

    # same-distribution appends don't trigger the refit signal
    assert ivf_needs_refit(spark, idx, tolerance=0.05) is False

    # at-least-once retry: re-running the same batch label overwrites
    # its own directory instead of double-appending
    ivf_index_append(shifted, idx, batch_label="b1")
    collect_aged(idx, IVF_INDEX)
    assert spark.read.parquet(f"{idx}/postings").count() == emb.count() + 10

    # a rebuild at the same path replaces postings/stats wholesale —
    # no stale old-centroid cells, exactly one build baseline
    built2 = ivf_index_build(emb, idx, n_centroids=8)
    assert built2["n_vectors"] == emb.count()
    collect_aged(idx, IVF_INDEX)
    assert spark.read.parquet(f"{idx}/postings").count() == emb.count()
    meta = bm.read_meta(spark, idx, IVF_INDEX)
    assert list(meta["stats"]) == ["build"]
    assert meta["baseline"]["batch"] == "build"


@pytest.mark.slow
def test_ivf_index_compact(spark, tmp_path, collect_aged):
    from gpt_rag_ingestion_spark.operators.similarity import (
        IVF_INDEX,
        ivf_index_append,
        ivf_index_build,
        ivf_index_compact,
        ivf_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    ivf_index_build(emb.filter("vec_id < 300"), idx, n_centroids=8)
    ivf_index_append(
        emb.filter("vec_id >= 300 AND vec_id < 400"), idx, batch_label="b1"
    )
    ivf_index_append(emb.filter("vec_id >= 400"), idx, batch_label="b2")

    q = emb.filter("vec_id < 20")
    before = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_index_query(spark, idx, q, n_probe=2, k=5).collect()
    }

    out = ivf_index_compact(spark, idx)
    assert out["n_vectors"] == emb.count()
    # one consolidated generation, fewer files, same answers
    import os

    collect_aged(idx, IVF_INDEX)
    batches = os.listdir(f"{idx}/postings")
    assert batches == ["batch=compacted__g3"]
    after = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_index_query(spark, idx, q, n_probe=2, k=5).collect()
    }
    assert after == before


@pytest.mark.slow
def test_ivfpq_index_lifecycle(spark, tmp_path, collect_aged):
    """Persisted IVFPQ: codes-only postings (the 16-32x smaller index),
    refit-free append, pruned+refined query matching the per-call
    operator, retry idempotence."""
    from gpt_rag_ingestion_spark.operators.similarity import (
        IVFPQ_INDEX,
        ivfpq_ann,
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_query,
        quantized_dot_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    built = ivfpq_index_build(emb, idx, n_cells=8)
    assert built["n_vectors"] == emb.count()
    # postings hold codes, never raw vectors
    post = spark.read.parquet(f"{idx}/postings")
    assert sorted(post.columns) == ["batch", "cell", "codes", "corpus_id"]

    q = emb.filter("vec_id < 20")
    # refined query == the per-call ivfpq_ann with the same geometry
    res = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivfpq_index_query(
            spark, idx, q, n_probe=4, k=5, refine_with=emb
        ).collect()
    }
    direct = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivfpq_ann(
            emb, q, k=5, n_cells=8, n_probe=4,
        ).collect()
    }
    assert res == direct

    # unrefined ADC ranking: decent recall@5 vs the exact baseline
    exact = {}
    for r in quantized_dot_topk(emb, k=5).collect():
        exact.setdefault(r["vec_id"], set()).add(r["nn_id"])
    adc = {}
    for r in ivfpq_index_query(spark, idx, q, n_probe=4, k=5).collect():
        adc.setdefault(r["query_id"], set()).add(r["corpus_id"])
    rec = sum(len(v & exact[qid]) / 5 for qid, v in adc.items()) / len(adc)
    # ADC alone is the coarse shortlist generator; refinement (asserted
    # equal to ivfpq_ann above) is the recall mechanism
    assert rec >= 0.25

    # refit-free append: re-inserted twins become their originals' top-1
    twins = emb.filter("vec_id < 10").selectExpr(
        "vec_id + 1000000 as vec_id", "embedding"
    )
    stats = ivfpq_index_append(twins, idx, batch_label="b1")
    assert stats["n_vectors"] == 10
    top = {
        r["query_id"]: r["corpus_id"]
        for r in ivfpq_index_query(
            spark, idx, twins, n_probe=4, k=1,
            refine_with=emb.select("vec_id", "embedding").unionByName(twins),
        ).filter("rank = 1").collect()
    }
    assert all(top[i] == i - 1000000 for i in top)

    # at-least-once retry replaces the batch directory, not doubles it
    ivfpq_index_append(twins, idx, batch_label="b1")
    collect_aged(idx, IVFPQ_INDEX)
    assert (
        spark.read.parquet(f"{idx}/postings").count() == emb.count() + 10
    )


def test_dedup_sidecar_lifecycle(spark, tmp_path):
    """Persisted digest/shingle sidecar: classification against the
    sidecar is ROW-FOR-ROW equal to incremental_dedup against the base
    text; admitted batches append per-label (retry-idempotent) and the
    next batch dedups against base+admitted without any base re-read."""
    from pyspark.sql import functions as F

    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_append,
        dedup_sidecar_build,
        incremental_dedup,
        incremental_dedup_sidecar,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    # same synthetic increment shape as q102: some exact dups of base,
    # some in-batch dups, rest fresh-ish
    incr = (
        docs.filter("doc_id % 3 = 0")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 9 = 0 THEN doc_id + 1 "
            "WHEN doc_id % 9 = 6 THEN doc_id - 3 ELSE doc_id END AS src_id",
        )
        .join(
            docs.selectExpr("doc_id AS src_id", "text"), "src_id"
        )
        .select("doc_id", "text")
    )

    side = str(tmp_path / "sidecar")
    built = dedup_sidecar_build(base, side)
    assert built["n_docs"] == base.count()

    want = sorted(
        tuple(r) for r in incremental_dedup(base, incr, threshold=0.1).collect()
    )
    got = sorted(
        tuple(r)
        for r in incremental_dedup_sidecar(incr, side, threshold=0.1).collect()
    )
    assert got == want and len(got) == incr.count()

    # admit the 'new' rows, retry the append (idempotent), then a copy
    # of an admitted row must classify exact_dup_base on the next batch
    new_ids = [
        r["doc_id"]
        for r in incremental_dedup_sidecar(incr, side).collect()
        if r["decision"] == "new"
    ]
    admitted = incr.filter(F.col("doc_id").isin(new_ids[:20]))
    dedup_sidecar_append(admitted, side, "b1")
    dedup_sidecar_append(admitted, side, "b1")  # at-least-once replay
    probe = admitted.limit(1).selectExpr("doc_id + 500000 AS doc_id", "text")
    out = incremental_dedup_sidecar(probe, side).collect()
    assert len(out) == 1 and out[0]["decision"] == "exact_dup_base"

    # equivalence also holds against the grown corpus
    grown = base.unionByName(admitted)
    probe2 = incr.filter(~F.col("doc_id").isin(new_ids[:20]))
    want2 = sorted(
        tuple(r)
        for r in incremental_dedup(grown, probe2, threshold=0.1).collect()
    )
    got2 = sorted(
        tuple(r)
        for r in incremental_dedup_sidecar(probe2, side, threshold=0.1).collect()
    )
    assert got2 == want2


@pytest.mark.slow
def test_ivfpq_index_compact(spark, tmp_path, collect_aged):
    from gpt_rag_ingestion_spark.operators.similarity import (
        IVFPQ_INDEX,
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_compact,
        ivfpq_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(emb.filter("vec_id < 300"), idx, n_cells=8)
    ivfpq_index_append(emb.filter("vec_id >= 300 AND vec_id < 400"), idx, "b1")
    ivfpq_index_append(emb.filter("vec_id >= 400"), idx, "b2")
    q = emb.filter("vec_id < 20")
    before = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivfpq_index_query(spark, idx, q, n_probe=4, k=5).collect()
    }
    out = ivfpq_index_compact(spark, idx)
    assert out["n_vectors"] == emb.count()
    import os

    collect_aged(idx, IVFPQ_INDEX)
    assert os.listdir(f"{idx}/postings") == ["batch=compacted__g3"]
    after = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivfpq_index_query(spark, idx, q, n_probe=4, k=5).collect()
    }
    assert after == before


@pytest.mark.slow
def test_ivf_index_maybe_compact_trigger(spark, tmp_path, collect_aged):
    """The fragment-count trigger: under the threshold it is a pure
    listing (no compact); over it, postings fold to one generation and
    query results are unchanged."""
    import os

    from gpt_rag_ingestion_spark.operators.similarity import (
        IVF_INDEX,
        ivf_index_append,
        ivf_index_build,
        ivf_index_maybe_compact,
        ivf_index_query,
        ivfpq_index_maybe_compact,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    ivf_index_build(emb.filter("vec_id < 300"), idx, n_centroids=8)
    ivf_index_append(emb.filter("vec_id >= 300 AND vec_id < 400"), idx, "b1")
    ivf_index_append(emb.filter("vec_id >= 400"), idx, "b2")
    out = ivf_index_maybe_compact(spark, idx, max_fragments=16)
    assert out == {"compacted": False, "fragments": 3}

    q = emb.filter("vec_id < 20")
    before = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_index_query(spark, idx, q, n_probe=4, k=5).collect()
    }
    out = ivf_index_maybe_compact(spark, idx, max_fragments=2)
    assert out["compacted"] is True and out["fragments_before"] == 3
    collect_aged(idx, IVF_INDEX)
    assert os.listdir(f"{idx}/postings") == ["batch=compacted__g3"]
    after = {
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivf_index_query(spark, idx, q, n_probe=4, k=5).collect()
    }
    assert after == before
    # post-compact: one generation, trigger back to not firing
    assert ivf_index_maybe_compact(spark, idx, max_fragments=2) == {
        "compacted": False, "fragments": 1,
    }
    # the IVFPQ twin shares the trigger arithmetic on its own layout
    assert ivfpq_index_maybe_compact(spark, idx, max_fragments=2)[
        "compacted"
    ] is False


@pytest.mark.slow
def test_dedup_sidecar_compact(spark, tmp_path, collect_aged):
    from gpt_rag_ingestion_spark.operators.dedup import (
        SIDECAR,
        dedup_sidecar_append,
        dedup_sidecar_build,
        dedup_sidecar_compact,
        incremental_dedup_sidecar,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    extra = docs.filter("doc_id % 3 = 0").limit(30).select("doc_id", "text")
    probe = docs.limit(40).selectExpr("doc_id + 900000 AS doc_id", "text")

    side = str(tmp_path / "sidecar")
    dedup_sidecar_build(base, side)
    dedup_sidecar_append(extra, side, "b1")
    before = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    counts = dedup_sidecar_compact(spark, side)
    assert counts["digests"] == base.count() + 30
    import os

    collect_aged(side, SIDECAR)
    for sub in ("digests", "shingles", "sizes"):
        assert os.listdir(f"{side}/{sub}") == ["batch=compacted__g2"]
    after = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    assert after == before


@pytest.mark.slow
def test_sidecar_replacement_supersedes_old_generation(spark, tmp_path):
    """Review finding: a re-admitted doc_id REPLACES its corpus text
    (delete-then-insert merge), so its old sidecar keys must stop
    matching — classification stays equal to the text path against the
    CURRENT corpus, and compaction garbage-collects the dead rows."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_append,
        dedup_sidecar_build,
        dedup_sidecar_compact,
        incremental_dedup,
        incremental_dedup_sidecar,
    )

    X = "alpha beta gamma delta epsilon zeta eta theta " * 4
    Y = "one two three four five six seven eight nine ten " * 4
    side = str(tmp_path / "sidecar")
    base = spark.createDataFrame([(5, X)], "doc_id long, text string")
    dedup_sidecar_build(base, side)

    # doc 5 re-admitted with NEW text Y (corpus row replaced)
    dedup_sidecar_append(
        spark.createDataFrame([(5, Y)], "doc_id long, text string"), side, "b2"
    )
    current = spark.createDataFrame([(5, Y)], "doc_id long, text string")

    # doc 200 arrives with the RETIRED text X: the corpus no longer
    # holds X, so both paths must admit it
    probe = spark.createDataFrame(
        [(200, X), (201, Y)], "doc_id long, text string"
    )
    want = sorted(
        tuple(r) for r in incremental_dedup(current, probe).collect()
    )
    got = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    assert got == want
    assert dict((r[0], r[1]) for r in got) == {
        200: "new", 201: "exact_dup_base"
    }

    # compaction drops the superseded generation and preserves answers
    counts = dedup_sidecar_compact(spark, side)
    assert counts["digests"] == 1  # only doc 5's LIVE row survives
    got2 = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    assert got2 == want


@pytest.mark.slow
def test_sidecar_short_docs_keep_digest_rows(spark, tmp_path):
    """Advisor finding (r3): liveness derived from the SIZES table
    dropped docs with fewer than n words (zero shingles -> no sizes
    row), so an exact copy of a short base doc classified 'new' and
    compaction deleted its digest rows.  Liveness now comes from the
    digest index: short docs classify, replace, and survive compaction
    exactly like the text path."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_append,
        dedup_sidecar_build,
        dedup_sidecar_compact,
        incremental_dedup,
        incremental_dedup_sidecar,
    )

    SHORT = "hi there"  # 2 words < n=3 -> zero shingles
    LONG = "alpha beta gamma delta epsilon zeta eta theta " * 4
    side = str(tmp_path / "sidecar")
    base = spark.createDataFrame(
        [(1, SHORT), (2, LONG)], "doc_id long, text string"
    )
    dedup_sidecar_build(base, side)

    probe = spark.createDataFrame(
        [(100, SHORT), (101, LONG), (102, "unrelated words entirely")],
        "doc_id long, text string",
    )
    want = sorted(tuple(r) for r in incremental_dedup(base, probe).collect())
    got = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    assert got == want
    assert dict((r[0], r[1]) for r in got)[100] == "exact_dup_base"

    # doc 2 RE-ADMITTED with short text: its stale long generation must
    # stop matching even though the new generation has no sizes row
    SHORT2 = "bye now"
    dedup_sidecar_append(
        spark.createDataFrame([(2, SHORT2)], "doc_id long, text string"),
        side, "b1",
    )
    current = spark.createDataFrame(
        [(1, SHORT), (2, SHORT2)], "doc_id long, text string"
    )
    probe2 = spark.createDataFrame(
        [(200, LONG), (201, SHORT2)], "doc_id long, text string"
    )
    want2 = sorted(
        tuple(r) for r in incremental_dedup(current, probe2).collect()
    )
    got2 = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe2, side).collect()
    )
    assert got2 == want2
    assert dict((r[0], r[1]) for r in got2) == {
        200: "new", 201: "exact_dup_base"
    }

    # compaction must KEEP the short docs' digest rows
    counts = dedup_sidecar_compact(spark, side)
    assert counts["digests"] == 2
    got3 = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe2, side).collect()
    )
    assert got3 == want2


def test_sidecar_steady_state_no_corpus_shuffle(spark, tmp_path):
    """The O(batch) contract, asserted on the physical plan: in the
    steady state (meta.superseded == 0) classification contains NO
    exchange keyed on any sidecar column — digests/postings/sizes are
    scans streamed under broadcast joins with batch-side keys.  After a
    re-admission (superseded > 0) the postings are still never shuffled
    by sh or doc_id; the only corpus-keyed exchange is the doc-level
    dead-set aggregation over the digest index."""
    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.dedup import (
        SIDECAR,
        dedup_sidecar_append,
        dedup_sidecar_build,
        incremental_dedup_sidecar,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    side = str(tmp_path / "sidecar")
    dedup_sidecar_build(base, side)
    assert bm.read_meta(spark, side, SIDECAR)["superseded"] == 0

    probe = docs.limit(30).selectExpr("doc_id + 900000 AS doc_id", "text")
    plan = incremental_dedup_sidecar(probe, side)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # no exchange leads on doc_id (sidecar OR batch — every doc_id join
    # side broadcasts), sh (postings), or _bid (sizes); the surviving
    # exchanges are batch/match-proportional groupBys (digest, _iid)
    for key in ("doc_id#", "sh#", "_bid#"):
        assert f"hashpartitioning({key}" not in plan, key

    # re-admit one doc -> superseded=1 -> dead-set path; postings and
    # sizes must STILL not shuffle (broadcast liveness filter)
    one = base.limit(1).selectExpr("doc_id", "'replaced text body' AS text")
    out = dedup_sidecar_append(one, side, "b1")
    assert out["newly_superseded"] == 1
    assert bm.read_meta(spark, side, SIDECAR)["superseded"] == 1
    plan2 = incremental_dedup_sidecar(probe, side)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for key in ("sh#", "_bid#"):
        assert f"hashpartitioning({key}" not in plan2, key


@pytest.mark.slow
def test_sidecar_maybe_compact_trigger(spark, tmp_path):
    """The compaction trigger fires from meta counters alone (one-row
    read per check) and classification is hash-stable across the
    triggered compact."""
    from gpt_rag_ingestion_spark.operators import batch_manifest as bm
    from gpt_rag_ingestion_spark.operators.dedup import (
        SIDECAR,
        dedup_sidecar_append,
        dedup_sidecar_build,
        dedup_sidecar_maybe_compact,
        incremental_dedup_sidecar,
    )

    texts = [
        (i, f"document number {i} with some shared words body " * 3)
        for i in range(8)
    ]
    side = str(tmp_path / "sidecar")
    dedup_sidecar_build(
        spark.createDataFrame(texts, "doc_id long, text string"), side
    )
    # no dead generations: trigger must NOT fire
    out = dedup_sidecar_maybe_compact(spark, side)
    assert out == {"compacted": False, "superseded": 0, "n_live": 8}

    # re-admit 2 of 8 docs -> 2 dead generations, ratio 0.25 > 0.2
    repl = spark.createDataFrame(
        [(0, "fresh body zero"), (1, "fresh body one")],
        "doc_id long, text string",
    )
    dedup_sidecar_append(repl, side, "b1")
    probe = spark.createDataFrame(
        [(100, texts[2][1]), (101, "fresh body zero")],
        "doc_id long, text string",
    )
    before = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    out = dedup_sidecar_maybe_compact(spark, side)
    assert out["compacted"] is True
    meta = bm.read_meta(spark, side, SIDECAR)
    assert meta["superseded"] == 0 and meta["n_live"] == 8
    after = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    assert after == before
    # and the counters are back in steady state: no re-fire
    assert dedup_sidecar_maybe_compact(spark, side)["compacted"] is False


def test_sidecar_postings_broadcast_gate_fallback(spark, tmp_path):
    """Advisor finding (r4): the batch-side postings-probe broadcast is
    gated on an estimated shingle count; an oversize batch degrades to
    a shuffle-hash join instead of risking a broadcast OOM.  Forcing
    the fallback (threshold 0) must leave results row-for-row equal."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        dedup_sidecar_build,
        incremental_dedup_sidecar,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    probe = docs.limit(40).selectExpr("doc_id + 900000 AS doc_id", "text")
    side = str(tmp_path / "sidecar")
    dedup_sidecar_build(base, side)

    bcast = sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    )
    shuffled = sorted(
        tuple(r)
        for r in incremental_dedup_sidecar(
            probe, side, broadcast_max_shingles=0
        ).collect()
    )
    assert shuffled == bcast
    assert any(r[1] != "new" for r in bcast)


def test_filtered_knn_pre_vs_post_modes(spark):
    """preFilter guarantees k results over the restricted corpus;
    postFilter ranks the full corpus then drops non-matching hits and
    may return fewer — and every preFilter hit satisfies the filter."""
    import pandas as pd

    from gpt_rag_ingestion_spark.operators.similarity import filtered_knn

    rows = []
    for i in range(40):
        vec = [0.0] * 8
        vec[i % 8] = 1.0
        vec[(i + 1) % 8] = 0.5 + (i % 5) * 0.1
        rows.append((i, vec, i % 2))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    qs = emb.filter("vec_id < 4")

    pre = filtered_knn(emb, qs, "label = 1", k=3, mode="pre").collect()
    odd = {r[0] for r in rows if r[2] == 1}
    assert all(r["corpus_id"] in odd for r in pre)
    assert {r["query_id"] for r in pre} == {0, 1, 2, 3}
    per_q = {}
    for r in pre:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    post = filtered_knn(emb, qs, "label = 1", k=3, mode="post").collect()
    assert all(r["corpus_id"] in odd for r in post)
    # postFilter can only lose hits vs the unfiltered top-3
    assert len(post) <= len(pre)

    # identical predicate => post hits are a subset of pre hits' pairs
    pre_pairs = {(r["query_id"], r["corpus_id"]) for r in pre}
    assert {(r["query_id"], r["corpus_id"]) for r in post} <= pre_pairs


def test_bucket_scorer_vectorized_matches_loop_reference():
    """r12: _make_bucket_scorer's output rows are assembled with numpy
    indexing instead of a per-(query, neighbor) Python loop.  Pin the
    vectorized construction against the old loop form on buckets that
    exercise every branch: self-pair masking, kk < k (bucket smaller
    than k), exact cosine ties, a zero-norm corpus vector (NaN scores
    must be dropped by BOTH forms), and a singleton bucket whose only
    candidate is the masked self-pair."""
    import numpy as np
    import pandas as pd

    from gpt_rag_ingestion_spark.operators.similarity import (
        _make_bucket_scorer,
    )

    def loop_reference(k, cdf, qdf):
        if cdf.empty or qdf.empty:
            return set()
        C = np.vstack(cdf["cv"].to_numpy()).astype("float64")
        Q = np.vstack(qdf["qv"].to_numpy()).astype("float64")
        cids = cdf["corpus_id"].to_numpy()
        qids = qdf["query_id"].to_numpy()
        S = (Q @ C.T) / (
            np.linalg.norm(Q, axis=1)[:, None]
            * np.linalg.norm(C, axis=1)[None, :]
        )
        S[qids[:, None] == cids[None, :]] = -np.inf
        kk = min(k, S.shape[1])
        top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        out = set()
        for i in range(len(qids)):
            for j in top[i]:
                if np.isfinite(S[i, j]):
                    out.add((qids[i], cids[j], round(float(S[i, j]), 12)))
        return out

    def rows(pdf):
        return {
            (int(q), int(c), round(float(s), 12))
            for q, c, s in zip(
                pdf["query_id"], pdf["corpus_id"], pdf["cosine"]
            )
        }

    rng = np.random.RandomState(7)

    def frame(ids, vecs, side):
        cols = (
            {"corpus_id": ids, "cv": list(vecs)}
            if side == "c"
            else {"query_id": ids, "qv": list(vecs)}
        )
        return pd.DataFrame(cols)

    # bucket 1: generic — 12 corpus, 5 queries (2 are corpus members ->
    # self-pair masking), k=4
    cv = rng.randn(12, 8)
    cids = np.arange(100, 112)
    qv = np.vstack([cv[0], cv[5], rng.randn(3, 8)])
    qids = np.array([100, 105, 900, 901, 902])
    # bucket 2: kk < k — 2 corpus rows, k=4
    cv2, cids2 = rng.randn(2, 8), np.array([1, 2])
    qv2, qids2 = rng.randn(3, 8), np.array([10, 11, 12])
    # bucket 3: exact ties — duplicated corpus vectors under distinct ids
    base = rng.randn(1, 8)
    cv3 = np.vstack([base, base, base, rng.randn(1, 8)])
    cids3 = np.array([5, 6, 7, 8])
    qv3, qids3 = rng.randn(2, 8), np.array([20, 21])
    # bucket 4: zero-norm corpus vector -> NaN column dropped by both
    cv4 = np.vstack([np.zeros(8), rng.randn(2, 8)])
    cids4 = np.array([30, 31, 32])
    qv4, qids4 = rng.randn(2, 8), np.array([40, 41])
    # bucket 5: singleton bucket, query IS the one corpus row
    cv5, cids5 = rng.randn(1, 8), np.array([50])
    qv5, qids5 = cv5.copy(), np.array([50])

    score = _make_bucket_scorer(4)
    for cv_, cids_, qv_, qids_ in [
        (cv, cids, qv, qids),
        (cv2, cids2, qv2, qids2),
        (cv3, cids3, qv3, qids3),
        (cv4, cids4, qv4, qids4),
        (cv5, cids5, qv5, qids5),
    ]:
        cdf = frame(cids_, cv_, "c")
        qdf = frame(qids_, qv_, "q")
        got = rows(score(cdf, qdf))
        want = loop_reference(4, cdf, qdf)
        assert got == want, (got - want, want - got)
    # empty sides
    assert score(frame([], [], "c"), frame(qids, qv, "q")).empty
    assert score(frame(cids, cv, "c"), frame([], [], "q")).empty
