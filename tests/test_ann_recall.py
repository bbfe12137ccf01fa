"""Measured ANN recall against the exact brute-force ground truth — the
check an approximate index actually owes its users. Everything here is
deterministic (splitmix64 planes, quantized integer dots, first-n-ids
k-means init), so these are exact pins, not flaky statistical bounds.

The two paths trade differently and both numbers are asserted:
- ann_lsh_topk (banded multi-probe SRP, 16 bands × 8 bits + 1-bit
  probes): 0.875 on this data where true top-5 cosines are a hard
  ~0.30-0.39 (a single bucket measures 0.10; banding without probes
  0.475).
- the committed-index family (ann_index_probe_topk / ann_ivf_topk /
  ann_pq_adc_topk) serves from the staged v0 snapshot tables and is
  pinned against brute force over the index's own corpus subset.
"""

from __future__ import annotations

import pytest

from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_SMALL

SPECS = load_all()


def _topk_sets(spark, name):
    out: dict[int, set[int]] = {}
    for r in SPECS[name].fn(spark, SF_SMALL).collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


@pytest.fixture(scope="module")
def ground_truth(spark):
    return _topk_sets(spark, "ann_bruteforce_topk")


@pytest.mark.parametrize(
    "name,min_recall",
    [
        ("ann_lsh_topk", 0.85),
        # the retraining witness: the composition beats both halves
        # (measured 0.95 vs in-line IVF 0.925 / PQ 0.875): residual encoding
        # spends the codebook on within-cell variance instead of
        # re-describing the centroid direction. (Widening the exact re-rank
        # beats a second Lloyd round, which REDUCES recall — 0.750/0.825 at
        # rerank 32/64 — L2-tighter codebooks are not monotonically better
        # for cosine top-k.)
        ("ann_ivf_pq_topk", 0.90),
    ],
)
def test_ann_recall_at_5(spark, ground_truth, name, min_recall):
    approx = _topk_sets(spark, name)
    hits = sum(len(ground_truth[q] & approx.get(q, set())) for q in ground_truth)
    total = sum(len(v) for v in ground_truth.values())
    recall = hits / total
    assert recall >= min_recall, f"{name} recall@5 = {recall:.3f} < {min_recall}"


@pytest.fixture(scope="module")
def subset_ground_truth(spark):
    """Brute force over the index's OWN corpus (vec_id % 5 != 0 — the
    committed v0 tables don't hold the held-out arrival slice), so the
    pins below measure the probe paths, not the corpus split."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.operators.similarity import (
        brute_force_topk,
    )
    from petfinder_database_distributor_spark.schema import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(queries, corpus, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    return truth


@pytest.mark.parametrize(
    "name,min_recall",
    [
        # measured 0.925 at nprobe=6/rerank=96 (0.875 in-line at
        # 4/64 — subset-trained cells are coarser; probe width buys back
        # training-data loss)
        ("ann_index_probe_topk", 0.90),
        # IVF-FLAT against the committed inverted file,
        # nprobe=6, exact scoring inside probed cells — measured 0.925
        ("ann_ivf_topk", 0.90),
        # exhaustive ADC (nprobe=16 = every cell) over the
        # committed residual codes, rerank=64 — measured 0.925
        ("ann_pq_adc_topk", 0.90),
    ],
)
def test_persisted_index_recall_at_5(spark, subset_ground_truth, name, min_recall):
    """Every committed-index query path owes its users measured recall —
    all three serve from the SAME v0 snapshot tables (train once, probe
    many), differing only in search strategy: residual-ADC+rerank
    (probe), cell-bounded exact (ivf), exhaustive-ADC (pq_adc)."""
    approx = _topk_sets(spark, name)
    truth = subset_ground_truth
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= min_recall, f"{name} recall@5 = {recall:.3f} < {min_recall}"
