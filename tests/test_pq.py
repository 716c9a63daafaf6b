"""Product quantization: codebook determinism, encode shape, ADC recall
vs brute force (with and without exact re-rank), IVF-PQ composition."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from arrow_spark.llm.similarity import (
    brute_force_topk,
    ivf_build_index,
    ivf_pq_topk,
    pq_encode,
    pq_topk,
    pq_train_codebooks,
)


def _clustered_vectors(n=120, dim=8, n_clusters=4):
    """Deterministic clustered vectors: cluster center + small offset."""
    rows = []
    for i in range(n):
        c = i % n_clusters
        base = [math.sin(c * 13 + d) * 5 for d in range(dim)]
        off = [((i * 31 + d * 7) % 11 - 5) * 0.05 for d in range(dim)]
        rows.append((i, [base[d] + off[d] for d in range(dim)], c))
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>, label int"
    ).localCheckpoint(eager=True)


def test_codebooks_shape_and_determinism(spark, vecs):
    a = pq_train_codebooks(vecs, m=4, n_codes=4, n_iters=2)
    b = pq_train_codebooks(vecs, m=4, n_codes=4, n_iters=2)
    rows_a = {(r["s"], r["code"]): r["cv"] for r in a.collect()}
    rows_b = {(r["s"], r["code"]): r["cv"] for r in b.collect()}
    assert rows_a == rows_b
    assert len(rows_a) == 4 * 4
    assert all(len(cv) == 2 for cv in rows_a.values())  # dim 8 / m 4


def _sha(rows):
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def test_codebooks_golden(spark, vecs):
    # bit-level pin: two runs agreeing with each other would not catch a
    # drift in the training arithmetic
    cb = pq_train_codebooks(vecs, m=4, n_codes=4, n_iters=2)
    assert _sha((r.s, r.code, tuple(r.cv)) for r in cb.collect()) == (
        "ee50f0e407be39a3ebe89ad14f1b2c08da794adfe9ce431c67ef88d7ed9c9a61"
    )


def test_training_job_counts(spark, vecs, jobs_run):
    # IVF: checkpoint + seed + 2 jobs per iteration (map stage + collect)
    # + the checkpointed inverted file. PQ: checkpoint + seed + 2 per
    # iteration — the seed is one collect that also gives the dim.
    with jobs_run() as ivf_jobs:
        ivf_build_index(vecs, n_clusters=4, n_iters=3)
    with jobs_run() as pq_jobs:
        pq_train_codebooks(vecs, m=4, n_codes=4, n_iters=2)
    assert (len(ivf_jobs), len(pq_jobs)) == (9, 6)


def test_serving_jobs_are_pinned(spark, vecs, jobs_run):
    # the codebooks and centroids a trainer returns carry their driver
    # rows, so encoding, the ADC tables and the probe collect none again
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    with jobs_run() as pq_jobs:
        pq_topk(vecs, queries, k=5, m=4, n_codes=4, n_iters=2, refine_factor=3).collect()
    with jobs_run() as ivf_pq_jobs:
        ivf_pq_topk(
            vecs, queries, k=5, n_clusters=4, n_probe=2, m=4, n_codes=4, n_iters=2
        ).collect()
    assert (len(pq_jobs), len(ivf_pq_jobs)) == (12, 19)


def test_encode_codes_in_range(spark, vecs):
    cb = pq_train_codebooks(vecs, m=4, n_codes=4, n_iters=2)
    coded = pq_encode(vecs, cb)
    rows = coded.collect()
    assert len(rows) == vecs.count()
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 4 for c in r["codes"])


def test_dim_not_divisible_raises(spark, vecs):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train_codebooks(vecs, m=3, n_codes=4, n_iters=1)


def test_empty_training_sample_raises(spark, vecs):
    with pytest.raises(ValueError, match="no training vectors"):
        pq_train_codebooks(vecs.where(F.col("vec_id") < 0), m=4, n_codes=4, n_iters=1)


def _recall(spark, vecs, approx_rows, k=5):
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {(r.qid, r.nid) for r in brute_force_topk(vecs, queries, k=k).collect()}
    approx = {(r["qid"], r["nid"]) for r in approx_rows}
    return len(exact & approx) / len(exact)


def test_pq_adc_recall_with_refine(spark, vecs):
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    rows = pq_topk(
        vecs, queries, k=5, m=4, n_codes=8, n_iters=3, refine_factor=4
    ).collect()
    # exact re-rank of a 4x candidate pool on clustered data recovers
    # nearly all true neighbors
    assert _recall(spark, vecs, rows) >= 0.9


def test_pq_adc_raw_recall_floor(spark, vecs):
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    rows = pq_topk(vecs, queries, k=5, m=4, n_codes=8, n_iters=3).collect()
    # compressed-domain distances alone: cluster-mates dominate top-k
    assert _recall(spark, vecs, rows) >= 0.6


def test_pq_serve_from_prebuilt_index(spark, vecs):
    cb = pq_train_codebooks(vecs, m=4, n_codes=8, n_iters=3)
    coded = pq_encode(vecs, cb).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    fresh = pq_topk(vecs, queries, k=5, m=4, n_codes=8, n_iters=3).collect()
    served = pq_topk(
        vecs, queries, k=5, codebooks=cb, codes=coded
    ).collect()
    assert {(r.qid, r.nid, r.rank) for r in fresh} == {
        (r.qid, r.nid, r.rank) for r in served
    }


def test_ivf_pq_composition_recall(spark, vecs):
    queries = vecs.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    rows = ivf_pq_topk(
        vecs, queries, k=5, n_clusters=4, n_probe=2, m=4, n_codes=8,
        n_iters=3, refine_factor=4,
    ).collect()
    assert _recall(spark, vecs, rows) >= 0.9
