"""Unit tests for dedup + similarity extensions: LSH recall vs exact,
signature sanity, blocking behavior."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from arrow_spark.catalog import table
from arrow_spark.llm.dedup import (
    exact_dedup,
    jaccard_near_dup_pairs,
    minhash_near_dups,
    simhash_signatures,
)
from arrow_spark.llm.similarity import (
    brute_force_topk,
    deterministic_planes,
    lsh_bucketed_topk,
)


def test_exact_dedup_groups_identical_docs(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["hello  world", "Hello world", "unique doc", "hello world "],
            }
        )
    )
    out = {r.keeper: r.n_copies for r in exact_dedup(df).collect()}
    assert out[1] == 3  # 1, 2, 4 normalize identically
    assert out[3] == 1


def test_jaccard_pairs_finds_near_dup(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over a lazy dog",
                    "completely different content here entirely",
                ],
            }
        )
    )
    pairs = {(r.id_a, r.id_b) for r in jaccard_near_dup_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_jaccard_length_blocking_boundary_pair(spark):
    # |A|=8, A ⊂ B, |B|=16 → J = 8/16 = 0.5, exactly at threshold AND at
    # the exact length-bucket boundary (log2 16/8 = 1.0) — the case a
    # float-naive bucket floor or tight size-ratio filter silently drops.
    a_toks = [f"w{i}" for i in range(8)]
    b_toks = [f"w{i}" for i in range(16)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [" ".join(a_toks), " ".join(b_toks)]})
    )
    for blocked in (True, False):
        rows = jaccard_near_dup_pairs(df, threshold=0.5, length_blocking=blocked).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.5)], blocked


def test_minhash_recall_vs_exact(spark, sf_dir):
    from itertools import combinations

    docs = table(spark, sf_dir, "documents")
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(docs, threshold=0.7, num_hashes=16, bands=8).collect()
    }
    # Documents with identical normalized content have identical shingle
    # sets → identical minhash signatures in every band → LSH MUST emit
    # them, and the Jaccard verifier scores them 1.0.
    from pyspark.sql import functions as FF

    dup_groups = (
        docs.groupBy(FF.md5(FF.lower(FF.regexp_replace(FF.trim("text"), r"\s+", " "))).alias("fp"))
        .agg(FF.collect_list("doc_id").alias("ids"))
        .where(FF.size("ids") >= 2)
        .collect()
    )
    must_pairs = {
        (min(a, b), max(a, b))
        for row in dup_groups
        for a, b in combinations(sorted(row.ids), 2)
    }
    missing = must_pairs - approx
    assert not missing, f"LSH missed exact duplicates: {sorted(missing)[:5]}"


def test_simhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["same words here", "same words here"]})
    )
    sigs = [r.simhash for r in simhash_signatures(df).collect()]
    assert sigs[0] == sigs[1] and len(sigs[0]) == 64


def test_lsh_topk_finds_clustered_neighbors(spark):
    """Seeded clustered corpus: members of a tight cluster (cos ≈ 0.9999)
    share every hyperplane sign with overwhelming probability, so LSH
    must return intra-cluster neighbors as top-1."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 16))
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(10):
            v = c + rng.standard_normal(16) * 1e-3
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    planes = deterministic_planes(6, 16, seed=7)
    out = lsh_bucketed_topk(df, queries, planes, k=3)
    got = {(r.qid, r.nid) for r in out.collect() if r.rank == 1}
    label_of = {r.vec_id: r.label for r in df.collect()}
    assert len(got) == 4  # every query found same-bucket neighbors
    for qid, nid in got:
        assert label_of[qid] == label_of[nid]  # top-1 is intra-cluster
    # scored cosines must equal the exact ones for the returned pairs
    exact = brute_force_topk(df, queries, k=39)
    ex = {(r.qid, r.nid): r.cos for r in exact.collect()}
    for r in out.collect():
        assert abs(ex[(r.qid, r.nid)] - r.cos) < 1e-12


def test_connected_components_chain_and_singleton(spark):
    from arrow_spark.llm.dedup import connected_components

    # 1-2-3-4 chain (multi-round propagation), 7-8 pair, 9 absent vertex
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.v: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_long_chain_converges(spark):
    # r12 regression: the gen-sf3 corpus built a 76k-doc template-chain
    # component whose diameter exceeded the old 25-round O(diameter)
    # budget. Pointer jumps give O(log diameter): a 600-vertex chain
    # (diameter 599 >> max_iter) must converge and label everything
    # with the chain minimum.
    from arrow_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "id_a long, id_b long"
    )
    out = connected_components(edges).collect()
    assert len(out) == 601
    assert {r.component for r in out} == {0}


def test_connected_components_scrambled_id_chain(spark):
    # The r13 counterexample that falsified the old neighbor-min +
    # pointer-jump loop: a 5,000-vertex chain whose vertex ids are
    # HASH-SCRAMBLED (ids carry no positional information, so label
    # jumps cannot compound along the path — the old loop DNF'd at 64
    # rounds). Star contraction's round count is geometry-independent
    # (~log2 n); pin a comfortable budget of 16 rounds so a regression
    # back to any id-order-dependent scheme fails loudly.
    from arrow_spark.llm.dedup import connected_components

    n = 5000
    ids = [((i * 2654435761) ^ 0x9E3779B9) & 0x7FFFFFFF for i in range(n)]
    assert len(set(ids)) == n  # the scramble must stay injective
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(edges, max_iter=16).collect()
    assert len(out) == n
    assert {r.component for r in out} == {min(ids)}


@pytest.mark.parametrize("n_edges", [400, 60])
@pytest.mark.parametrize("seed", [123456789, 1, 7, 99, 2024])
def test_connected_components_matches_union_find(spark, seed, n_edges):
    # Property test vs a driver-side union-find ground truth on a
    # deterministic pseudo-random multigraph with self-loops, stars,
    # and isolated-by-self-loop vertices — the equivalence evidence the
    # r13 verdict asked to have committed, not narrated. 400 edges on
    # 97 ids make one giant component; 60 make a forest of small trees.
    from arrow_spark.llm.dedup import connected_components

    rows = []
    x = seed
    for _ in range(n_edges):
        # xorshift32: deterministic, no RNG module state
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        a = x % 97
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        b = x % 97
        rows.append((a, b))
    rows += [(200, 200), (201, 202), (201, 203), (201, 204)]  # self-loop + star
    edges = spark.createDataFrame(rows, "id_a long, id_b long")

    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    # normalize: component label = min member id
    mins: dict[int, int] = {}
    for v, r in want.items():
        mins[r] = min(mins.get(r, v), v)
    want = {v: mins[r] for v, r in want.items()}

    got = {r.v: r.component for r in connected_components(edges).collect()}
    assert got == want


def test_connected_components_star_forest_input_stops_after_one_round(
    spark, monkeypatch
):
    # A star forest is a fixpoint of one round, and the star-forest test
    # recognizes it in that round: three generations (input, the one
    # round, output), with no confirmation round.
    import arrow_spark.checkpoint as ckpt
    import arrow_spark.llm.dedup as dedup

    calls = []
    real = ckpt.ckpt_reset_stats

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(ckpt, "ckpt_reset_stats", counting)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.v: r.component for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    assert len(calls) == 3


@pytest.mark.parametrize(
    "chain",
    [
        [0, 5, 3, 6, 2, 1, 4],
        [1, 3, 4, 8, 2, 10, 9, 11, 0, 5, 7, 6],
    ],
    ids=["7", "12"],
)
def test_connected_components_chain_needs_both_star_conditions(spark, chain):
    # On these chains an intermediate round has no vertex that is both a
    # parent and a child, but still has a child of two centers; stopping
    # there would split the chain (the first would label {6, 2, 1, 4} as 1).
    from arrow_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        list(zip(chain, chain[1:])), "id_a long, id_b long"
    )
    got = {r.v: r.component for r in connected_components(edges).collect()}
    assert got == {v: 0 for v in chain}


def test_connected_components_non_convergence_raises_and_frees(spark):
    # max_iter=1 cannot finish a 600-vertex chain: the loop must raise
    # and release every generation it persisted on the way out.
    from arrow_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "id_a long, id_b long"
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, max_iter=1)
    assert persistent().size() <= before


def test_near_dup_clusters_transitive_merge(spark):
    from arrow_spark.llm.dedup import near_dup_clusters

    # a~b and b~c each share >1/2 tokens, a vs c falls below 0.5:
    # clustering must still place all three together (transitivity),
    # while d is a singleton keeper.
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en"),
            (2, "alpha beta gamma epsilon", "en"),
            (3, "alpha beta zeta epsilon", "en"),
            (4, "totally different words here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in near_dup_clusters(df, pair_source="exact").collect()
    }
    assert rows == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}


def test_near_dup_clusters_default_lsh_path(spark):
    # the DEFAULT pair source is minhash-LSH verified by shingle Jaccard:
    # docs sharing most of their shingles cluster; unrelated docs stay
    # singleton keepers.
    from arrow_spark.llm.dedup import near_dup_clusters

    # shingle Jaccard of the pair ≈ 28/30 ≈ 0.93 — deep inside the
    # (16 hashes, 4 bands) S-curve's catch region (miss ≈ 0.4%), so the
    # banded candidate join catches it for the fixed hash constants;
    # borderline-J behavior is the band planner's job (lsh_band_plan)
    common = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the patient crane watches from the riverbank at dawn "
        "counting fish beneath the rippling water surface"
    )
    df = spark.createDataFrame(
        [
            (1, common + " one", "en"),
            (2, common + " two", "en"),
            (3, "completely unrelated text about query engines at scale", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {r.doc_id: (r.cluster_id, r.is_keeper) for r in near_dup_clusters(df).collect()}
    assert rows == {1: (1, True), 2: (1, False), 3: (3, True)}


def _clustered_vectors(seed=7, n_clusters=4, per=25, dim=16):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 5
    rows = []
    for ci in range(n_clusters):
        for j in range(per):
            v = centers[ci] + rng.standard_normal(dim) * 0.3
            rows.append((ci * per + j, [float(x) for x in v], ci))
    return rows


def test_ivf_centroids_deterministic(spark):
    from arrow_spark.llm.similarity import ivf_train_centroids

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    )
    a = {r.cid: r.cv for r in ivf_train_centroids(df, n_clusters=4, n_iters=3).collect()}
    b = {r.cid: r.cv for r in ivf_train_centroids(df, n_clusters=4, n_iters=3).collect()}
    assert a == b and len(a) == 4


def test_ivf_build_index_golden(spark):
    # bit-level pin of the centroids and the inverted file: two runs
    # agreeing with each other would not catch a drift in the arithmetic
    import hashlib

    from arrow_spark.llm.similarity import ivf_build_index

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    )
    cents, indexed = ivf_build_index(df, n_clusters=4, n_iters=3)

    def sha(rows):
        return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    assert sha((r.cid, tuple(r.cv)) for r in cents.collect()) == (
        "fff685aa12281509cf4a423a32dcfa63d71a3c7e201c5b6a660fd67941a409da"
    )
    assert sha((r.nid, r.cid) for r in indexed.collect()) == (
        "bab76e06fa04a4345ed840568887385116c3d98542c3d6449c400be3df2e9825"
    )


def test_ivf_centroids_frees_the_inverted_file(spark):
    # the centroids come from driver lists, so no persisted generation
    # (training relation or inverted file) outlives the call
    from arrow_spark.llm.similarity import ivf_train_centroids

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    assert ivf_train_centroids(df, n_clusters=4, n_iters=2).count() == 4
    assert persistent().size() <= before


def test_ivf_topk_recall_vs_brute_force(spark):
    from arrow_spark.llm.similarity import brute_force_topk, ivf_topk

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    )
    queries = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.nid) for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r.qid, r.nid)
        for r in ivf_topk(df, queries, k=5, n_clusters=4, n_probe=2, n_iters=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    # clustered data: neighbors share the query's cluster, 2 probes of 4
    # data-adaptive cells must recover nearly all of them
    assert recall >= 0.9, recall


def _planted_embeddings(spark, n_base=40, dim=16, seed=7):
    """Deterministic corpus with planted near-dups: each base vector gets
    one strongly-perturbed copy (cos ≈ 0.97-0.999) and some mid-similarity
    decoys (cos well below 0.95) arise naturally between random vectors."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v]))
        dup = v + rng.standard_normal(dim) * 0.08  # small perturbation
        rows.append((i * 2 + 1, [float(x) for x in dup]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_lsh_blocking_equals_exact(spark):
    # VERDICT r1 #1: LSH OR-construction must be recall-lossless on planted
    # near-dups — blocked result set == all-pairs result set, same cosines.
    from arrow_spark.llm.dedup import embedding_near_dup_pairs

    emb = _planted_embeddings(spark)
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dup_pairs(emb, threshold=0.95, blocking="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dup_pairs(emb, threshold=0.95, blocking="lsh").collect()
    }
    assert len(exact) >= 30  # the planted dups are actually above threshold
    assert lsh == exact


def test_embedding_top_k_per_id_guard(spark):
    # VERDICT r11 #2: the emission guard must equal the rank cut over the
    # full relation — k most-similar partners per id_a, ties (rounded
    # cos) broken by id_b ASC.
    from collections import defaultdict

    from arrow_spark.llm.dedup import embedding_near_dup_pairs

    emb = _planted_embeddings(spark)
    # drop the threshold so ranks actually cut something (planted decoys)
    full = embedding_near_dup_pairs(emb, threshold=0.2, blocking="lsh").collect()
    by_a = defaultdict(list)
    for r in full:
        by_a[r.id_a].append((-r.cos, r.id_b))
    expected = {
        (a, id_b)
        for a, parts in by_a.items()
        for _, id_b in sorted(parts)[:2]
    }
    capped = embedding_near_dup_pairs(
        emb, threshold=0.2, blocking="lsh", top_k_per_id=2
    ).collect()
    assert {(r.id_a, r.id_b) for r in capped} == expected
    counts = defaultdict(int)
    for r in capped:
        counts[r.id_a] += 1
    assert all(v <= 2 for v in counts.values())


def test_embedding_auto_scale_boundary_thresholds(spark):
    # ADVICE r11: the auto-scale table-count solve crashed on threshold=1.0
    # (c=1 → log(0)) once n_rows exceeded target_bucket·2^n_planes. Force
    # the solve with tiny knobs; exact-cosine threshold must just raise
    # the plane count and run.
    from arrow_spark.llm.dedup import embedding_near_dup_pairs

    emb = _planted_embeddings(spark)  # 80 rows > 4·2^2
    out = embedding_near_dup_pairs(
        emb, threshold=1.0, blocking="lsh", n_planes=2, n_tables=2,
        target_bucket=4,
    ).collect()
    exact = embedding_near_dup_pairs(emb, threshold=1.0, blocking="exact").collect()
    # exact-cosine verify admits no false positive, so lsh ⊆ exact
    assert {(r.id_a, r.id_b) for r in out} <= {(r.id_a, r.id_b) for r in exact}


def test_vectorized_signatures_match_jvm_folds(spark):
    # the numpy matmul signature path must agree bit-for-bit with the
    # codegen'd lsh_signature folds it replaces
    from arrow_spark.llm.similarity import (
        deterministic_planes,
        lsh_signature,
        lsh_signatures_vectorized,
    )

    emb = _planted_embeddings(spark, n_base=10)
    planes = deterministic_planes(24, 16, seed=11)
    d = emb.select("vec_id", F.col("embedding").alias("v"))
    jvm = d.select(
        "vec_id",
        *[
            lsh_signature(F.col("v"), planes[t * 8 : (t + 1) * 8]).alias(f"s{t}")
            for t in range(3)
        ],
    )
    vec = d.select("vec_id", lsh_signatures_vectorized(planes, 3)(F.col("v")).alias("ss"))
    want = {r.vec_id: (r.s0, r.s1, r.s2) for r in jvm.collect()}
    got = {r.vec_id: tuple(r.ss) for r in vec.collect()}
    assert got == want


def test_hll_merge_law_and_accuracy(spark, sf_dir):
    # union of sketches ≡ sketch of union (exactly, same library both
    # sides), and the estimate lands within HLL error of the exact count
    from arrow_spark.operators.sketches import hll_build, hll_estimate, hll_merge

    docs = table(spark, sf_dir, "documents")
    merged = hll_estimate(hll_merge(hll_build(docs, ["lang", "source"], "text"), ["lang"]))
    direct = hll_estimate(hll_build(docs, ["lang"], "text"))
    got = {r.lang: r.approx_distinct for r in merged.collect()}
    want = {r.lang: r.approx_distinct for r in direct.collect()}
    assert got == want
    exact = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.countDistinct("text").alias("n")).collect()
    }
    for lang, est in got.items():
        assert abs(est - exact[lang]) / exact[lang] < 0.05, (lang, est, exact[lang])


def test_histogram_sketch_merge_law_and_error_bound(spark, sf_dir):
    from arrow_spark.operators.sketches import (
        histogram_build,
        histogram_merge,
        histogram_quantile,
    )

    l = table(spark, sf_dir, "lineitem")
    # merge law: per-flag sketches merged to global ≡ direct global build
    per = histogram_build(l, "l_extendedprice", keys=["l_returnflag"])
    merged = histogram_merge(per.drop("l_returnflag"))
    direct = histogram_build(l, "l_extendedprice")
    assert {(r.bucket, r.n) for r in merged.collect()} == {
        (r.bucket, r.n) for r in direct.collect()
    }
    # error bound: estimate within one bucket width above the exact p95
    est = histogram_quantile(direct, 0.95).first()[0]
    exact = l.agg(F.percentile_approx("l_extendedprice", 0.95, 100000)).first()[0]
    assert exact <= est <= exact + 50.0 + 1e-9  # 5000 cents = 50.0 width


def test_incremental_near_dups_against_store(spark):
    from arrow_spark.llm.dedup import (
        band_signature_store,
        incremental_near_dups,
        minhash_near_dups,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "an entirely different document about distributed query engines"),
            (3, "pack my box with five dozen liquor jugs for the festival"),
        ],
        "doc_id: long, text: string",
    )
    batch = spark.createDataFrame(
        [
            # near-copy of doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat again and again"),
            # novel content
            (11, "completely unrelated text that matches nothing in the corpus"),
            # exact copy of doc 3
            (12, "pack my box with five dozen liquor jugs for the festival"),
        ],
        "doc_id: long, text: string",
    )
    store = band_signature_store(corpus, num_hashes=16, bands=8)
    got = {
        (r.new_id, r.dup_of): r.jaccard
        for r in incremental_near_dups(
            batch, store, corpus, threshold=0.3, num_hashes=16, bands=8
        ).collect()
    }
    assert (12, 3) in got and got[(12, 3)] == 1.0
    assert (10, 1) in got and 0.3 <= got[(10, 1)] < 1.0
    assert not any(new_id == 11 for new_id, _ in got)
    # equivalence: the incremental result equals the (batch × corpus)
    # slice of the full-union near-dup pair set at the same parameters
    full = minhash_near_dups(
        corpus.union(batch), threshold=0.3, num_hashes=16, bands=8
    ).collect()
    want = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.jaccard
        for r in full
        if (r.id_a < 10) != (r.id_b < 10)  # cross batch/corpus pairs only
    }
    assert got == want
    # containment: the LSH store probe never invents a pair the exact
    # (unblocked all-pairs) path lacks, and agrees on every jaccard —
    # the relation that lets dedup_incremental's DuckDB oracle gate the
    # hash-infeasible dedup_incremental_lsh_store query.
    exact = {
        (r.new_id, r.dup_of): r.jaccard
        for r in incremental_near_dups(
            batch, None, corpus, threshold=0.3, candidate_source="exact"
        ).collect()
    }
    assert set(got) <= set(exact)
    assert all(exact[k] == v for k, v in got.items())


def test_ivf_index_persist_reload_round_trip(spark, tmp_path):
    """r4 (VERDICT r3 item 6): the "build once, serve many" contract is
    executable — write_ivf_index/read_ivf_index round-trip the artifact
    and ivf_topk(index=loaded) answers without touching the corpus,
    identically to the fresh build (the whole pipeline is deterministic,
    so equality is exact)."""
    from arrow_spark.llm.similarity import (
        ivf_build_index,
        ivf_topk,
        read_ivf_index,
        write_ivf_index,
    )

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    )
    queries = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    built = ivf_build_index(df, n_clusters=4, n_iters=3)
    path = str(tmp_path / "ivf")
    write_ivf_index(*built, path)
    loaded = read_ivf_index(spark, path)

    # artifact fidelity: centroids and inverted file survive byte-exact
    assert {r.cid: r.cv for r in loaded[0].collect()} == {
        r.cid: r.cv for r in built[0].collect()
    }
    assert {(r.nid, r.cid) for r in loaded[1].collect()} == {
        (r.nid, r.cid) for r in built[1].collect()
    }

    fresh = ivf_topk(df, queries, k=5, n_clusters=4, n_probe=2, n_iters=3)
    served = ivf_topk(None, queries, k=5, n_probe=2, index=loaded)
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, served.collect()))


def test_bloom_index_persist_reload_round_trip(spark, tmp_path):
    """write_bloom_index/read_bloom_index round-trip; point_lookup over
    the loaded index gives the same single-row answer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_spark.sources.bloom_index import (
        build_bloom_index,
        point_lookup,
        read_bloom_index,
        write_bloom_index,
    )

    data = str(tmp_path / "data.parquet")
    n = 4000
    keys = [(i * 2654435761) % (1 << 31) for i in range(n)]
    pq.write_table(
        pa.table({"key": pa.array(keys, pa.int64()), "val": [f"r{i}" for i in range(n)]}),
        data,
        row_group_size=500,
    )
    index = build_bloom_index(spark, data, "key", fpp=0.01)
    ipath = str(tmp_path / "bloom_index")
    write_bloom_index(index, ipath)
    loaded = read_bloom_index(spark, ipath)
    # parquet read-back relaxes nullability; names and types must hold
    assert [(f.name, f.dataType) for f in loaded.schema.fields] == [
        (f.name, f.dataType) for f in index.schema.fields
    ]
    assert {(r.file, r.row_group, r.bloom) for r in loaded.collect()} == {
        (r.file, r.row_group, r.bloom) for r in index.collect()
    }
    probe = keys[1234]
    got = point_lookup(spark, data, "key", probe, loaded).collect()
    assert [(r.key, r.val) for r in got] == [(probe, "r1234")]


def test_lsh_band_plan_properties():
    from arrow_spark.llm.dedup import lsh_band_plan

    def curve(s, b, r):
        return 1.0 - (1.0 - s**r) ** b

    for t in (0.3, 0.5, 0.7, 0.9):
        b, r = lsh_band_plan(t, num_hashes=128)
        assert b * r == 128
        # recall at the threshold is high...
        assert curve(t, b, r) >= 0.95
        # ...and the curve is genuinely selective well below it
        assert curve(t / 3, b, r) < curve(t, b, r)
    # lower thresholds need more bands (shorter rows)
    b_low, r_low = lsh_band_plan(0.3, 128)
    b_high, r_high = lsh_band_plan(0.9, 128)
    assert b_low >= b_high and r_low <= r_high

    import pytest

    with pytest.raises(ValueError):
        lsh_band_plan(1.5)


def test_lsh_band_plan_drives_candidates(spark):
    from arrow_spark.llm.dedup import lsh_band_plan, minhash_lsh_candidates

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about spark query planning"),
        ],
        "doc_id long, text string",
    )
    b, r = lsh_band_plan(0.8, num_hashes=32)
    cands = {
        tuple(sorted((x["id_a"], x["id_b"])))
        for x in minhash_lsh_candidates(docs, num_hashes=b * r, bands=b).collect()
    }
    assert (0, 1) in cands  # exact dups must collide in some band


def _entropy_text(n):
    import random

    rng = random.Random(0)
    return "".join(chr(33 + rng.randrange(90)) for _ in range(n))


def test_compression_ratio_separates_repetition(spark):
    from arrow_spark.llm.corpus import compression_ratio

    docs = spark.createDataFrame(
        [
            (0, "spam " * 400),                       # highly repetitive
            (1, _entropy_text(2000)),  # high entropy
            (2, ""),                                  # empty → null
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x["compression_ratio"] for x in compression_ratio(docs).collect()}
    assert r[0] < 0.05          # template collapses
    assert r[1] > 0.5           # pseudo-random barely compresses
    assert r[2] is None
    # determinism across runs
    r2 = {x["doc_id"]: x["compression_ratio"] for x in compression_ratio(docs).collect()}
    assert r == r2


def test_minhash_slots_are_independent_permutations(spark):
    """Regression: without the mod-MINHASH_PRIME in the affine family,
    every h_i = a_i*base + b_i is monotonic in base, all slots share one
    argmin shingle, and banding degenerates to a single-hash scheme.
    Replicate the portable path in pure Python and assert (a) Spark's
    signature mins match the replica exactly and (b) the slots do NOT
    all come from the same argmin shingle."""
    import hashlib

    from pyspark.sql import functions as F

    from arrow_spark.llm.dedup import (
        MINHASH_PRIME,
        _band_signatures,
        _minhash_constants,
        shingle_sets,
    )

    text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    d = shingle_sets(docs)
    sh = [s for s in d.collect()[0].sh]
    a, b = _minhash_constants(16)

    def base(s):
        return int(hashlib.md5(f"0:{s}".encode()).hexdigest()[:15], 16) % (1 << 31)

    bases = [base(s) for s in sh]
    expect_mins = [min((a[i] * x + b[i]) % MINHASH_PRIME for x in bases) for i in range(16)]
    argmins = {
        min(range(len(bases)), key=lambda j: (a[i] * bases[j] + b[i]) % MINHASH_PRIME)
        for i in range(16)
    }
    assert len(argmins) > 1, "slots all collapsed onto one argmin shingle"

    # Spark's band signatures must equal the replica's
    import hashlib as _h

    rows_per_band = 4
    expect_bands = {
        (bi, _h.md5("_".join(str(expect_mins[bi * 4 + j]) for j in range(4)).encode()).hexdigest())
        for bi in range(4)
    }
    got = {
        (r.band, r.bsig)
        for r in _band_signatures(d, 16, 4, hash_family="portable").collect()
    }
    assert got == expect_bands


def test_hll_rel_accuracy_and_merge_law(spark):
    """Relational HLL: estimate within the ~1.04/sqrt(m) error band of
    the exact distinct count, and max-merge of per-part registers equals
    the registers of the union (the mergeability law)."""
    from arrow_spark.operators.sketches import (
        hll_rel_build,
        hll_rel_estimate,
        hll_rel_merge,
    )

    n = 5000
    df = spark.createDataFrame(
        [(i % 2, f"value-{i}") for i in range(n)], "part int, v string"
    )
    whole = hll_rel_build(df, "v", keys=[], p=9)
    est = hll_rel_estimate(whole, keys=[], p=9).collect()[0]["approx_distinct"]
    assert abs(est - n) / n < 3 * 1.04 / (1 << 9) ** 0.5, est

    per_part = hll_rel_build(df, "v", keys=["part"], p=9)
    merged = {
        (r.bucket, r.rank)
        for r in hll_rel_merge(per_part, keys=[]).collect()
    }
    direct = {(r.bucket, r.rank) for r in whole.collect()}
    assert merged == direct


def test_count_min_portable_matches_xxhash_semantics(spark):
    """The portable hash family changes cell addresses, not guarantees:
    estimates still never undercount and exact-count small keys."""
    from arrow_spark.operators.sketches import count_min_build, count_min_estimate

    df = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(700)], "k string"
    )
    for fam in ("xxhash64", "portable"):
        sk = count_min_build(df, "k", width=256, depth=4, hash_family=fam)
        est = {
            r["item"]: r["est"]
            for r in count_min_estimate(sk, df, "k", width=256, depth=4,
                                        hash_family=fam).collect()
        }
        assert all(v >= 100 for v in est.values()), (fam, est)


def test_duplicate_ngram_spans_profile(spark):
    """Two docs sharing a 6-token run + one unique doc: with window=3,
    every window inside the shared run is duplicated, windows touching
    the distinct tails are not, and the unique doc scores 0."""
    from arrow_spark.llm.dedup import duplicate_ngram_spans

    shared = "alpha bravo charlie delta echo foxtrot"
    df = spark.createDataFrame(
        [
            (1, shared + " golf hotel"),
            (2, shared + " india juliet"),
            (3, "completely different words in this document"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_fraction)
        for r in duplicate_ngram_spans(df, window=3).collect()
    }
    # 8 tokens → 6 windows; the 4 windows fully inside `shared` repeat
    # across docs 1 and 2, the 2 windows touching the tail do not
    assert rows[1] == (6, 4, 0.666667)
    assert rows[2] == (6, 4, 0.666667)
    assert rows[3] == (4, 0, 0.0)  # 6 tokens → 4 windows, none repeated
    # hashed grouping (default) must agree with the exact-string path
    exact = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_fraction)
        for r in duplicate_ngram_spans(df, window=3, hash_grams=False).collect()
    }
    assert rows == exact


def test_cap_per_group_binds_and_breaks_ties(spark):
    from arrow_spark.llm.corpus import cap_per_group

    df = spark.createDataFrame(
        [
            (1, "a", 10), (2, "a", 10), (3, "a", 30), (4, "a", 20),
            (5, "b", 5),
        ],
        "doc_id long, source string, n_chars long",
    )
    kept = {
        r.doc_id: r.group_rank
        for r in cap_per_group(df, cap=2, order_by="n_chars").collect()
    }
    # source a keeps 30 then 20; the 10/10 tie resolves to doc 1 but the
    # cap of 2 already excludes both; source b keeps its only doc
    assert kept == {3: 1, 4: 2, 5: 1}
    kept3 = {
        r.doc_id: r.group_rank
        for r in cap_per_group(df, cap=3, order_by="n_chars").collect()
    }
    assert kept3 == {3: 1, 4: 2, 1: 3, 5: 1}  # tie → smaller doc_id


def test_excise_duplicate_spans_keeps_canonical(spark):
    from arrow_spark.llm.dedup import excise_duplicate_spans

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, shared + " tail1 a"),          # canonical (min doc_id)
            (2, shared + " tail2 b"),          # loses the shared span
            (3, "alpha beta gamma delta"),     # untouched
            (4, shared + " " + shared),        # internal repeat: 2nd copy dropped
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_dropped)
        for r in excise_duplicate_spans(df, window=5).collect()
    }
    # doc 1 holds the canonical (min id, min pos) occurrence of every
    # duplicated window → fully intact
    assert out[1] == (shared + " tail1 a", 7, 0)
    # doc 2's first 5 tokens form the duplicated window; tokens 0-4 drop
    assert out[2] == ("tail2 b", 7, 5)
    assert out[3] == ("alpha beta gamma delta", 4, 0)
    # doc 4: windows sliding across the repeat are themselves repeats of
    # doc 1's windows or internal duplicates — only the first window
    # (pos 0) could be canonical, but doc 1 already owns it, so the
    # whole text collapses
    assert out[4][2] > 0 and out[4][1] == 10
    # hashed and exact-string paths agree
    exact = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_dropped)
        for r in excise_duplicate_spans(df, window=5, hash_grams=False).collect()
    }
    assert out == exact
