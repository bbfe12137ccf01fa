"""The scheduled-retrain half of the ANN index lifecycle: appends from a
DRIFTED distribution must trip the residual-energy gate
(ann_index_retrain_check's math), degrade probe recall under a fixed
probe budget, and RECOVER after ann_index_retrain commits fresh
centroids/codebook/codes as the next snapshot versions. Everything is
deterministic (splitmix64 vectors, integer-exact training), so these are
exact pins, not statistical bounds."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.similarity import (
    _splitmix64,
    brute_force_topk,
    int_dot,
    ivf_pq_encode,
    ivf_pq_probe,
    ivf_pq_train,
    quantize,
)
from petfinder_database_distributor_spark.plans.corpus_ops import (
    RETRAIN_DRIFT_PPM,
    ann_index_retrain,
)
from petfinder_database_distributor_spark.sources.snapshot import (
    snapshot_append,
    snapshot_read,
    snapshot_write,
)
from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT

import pytest

# heavy tail — two full drift->retrain
# lifecycles (~130 s); excluded from the default fast set, run with -m slow.
pytestmark = pytest.mark.slow


DIM = 64


def _uniform_vec(i: int) -> list[float]:
    """Trained-distribution vector: iid-uniform-ish in [-1, 1]."""
    return [((_splitmix64(i * DIM + d) % 2001) - 1000) / 1000 for d in range(DIM)]


N_CLUSTERS = 16  # drifted micro-clusters == codebook arity: recoverable
PER_CLUSTER = 24  # members per micro-cluster (identical vectors)
OFFSET = 150  # +-0.15/dim corner offsets — small inter-cluster gap


def _drift_base(g: int, d: int) -> float:
    """Micro-cluster g's center in the drifted region: a shared
    alternating-sign cone direction (the component the uniform-trained
    index never saw — it dominates pre-retrain residuals and corrupts
    their coding) plus a g-specific +-OFFSET corner pattern (the
    structure a RETRAINED codebook can spend its codewords on; the
    small scale keeps the inter-cluster ADC gap below the PRE-retrain
    coding error, which is what makes the degradation visible)."""
    return (1.0 if d % 2 == 0 else -1.0) + (
        OFFSET if _splitmix64(55555 + g * DIM + d) % 2 == 0 else -OFFSET
    ) / 1000


def _drifted_vec(i: int) -> list[float]:
    """Arrival i = member of micro-cluster i//PER_CLUSTER. Members are
    IDENTICAL (ties broken by vec_id identically in brute force and the
    probe), so recall measures the coding quality alone."""
    return [_drift_base(i // PER_CLUSTER, d) for d in range(DIM)]


def _drifted_query(g: int) -> list[float]:
    return [
        _drift_base(g, d) + ((_splitmix64(4242 + g * DIM + d) % 61) - 30) / 1000
        for d in range(DIM)
    ]


def _mean_energy(spark, codes, vecs, centroids) -> int:
    """floor(mean ||qe - icvec||^2) over ``vecs`` against their committed
    cell — the exact metric ann_index_retrain_check aggregates."""
    qe_tbl = vecs.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    resid = F.zip_with("qe", "icvec", lambda x, c: x - c)
    row = (
        codes.select("vec_id", "centroid_id")
        .join(qe_tbl, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .agg(
            F.sum(int_dot(resid, resid)).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return row["e"] // row["n"]


def _recall(spark, truth, centroids, cb, codes, corpus, queries) -> float:
    approx: dict[int, set[int]] = {}
    # rerank=32 covers one full micro-cluster (identical members tie on
    # ADC, so the window must span the tie-group or id-order truncation
    # hides true members even from a perfect coder)
    res = ivf_pq_probe(
        queries, centroids, cb, codes, corpus, k=5, nprobe=4, rerank=32
    )
    for r in res.collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_drift_gate_trips_and_retrain_recovers_recall(spark):
    root = f"{SCRATCH_ROOT}/ann_retrain_test"
    shutil.rmtree(root, ignore_errors=True)
    trained = spark.createDataFrame(
        [(i, _uniform_vec(i)) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    arrivals = spark.createDataFrame(
        [(1000 + i, _drifted_vec(i)) for i in range(N_CLUSTERS * PER_CLUSTER)],
        "vec_id long, embedding array<double>",
    )
    centroids, cb, codes = ivf_pq_train(trained)
    for name, df in (("centroids", centroids), ("codebook", cb), ("codes", codes)):
        snapshot_write(spark, f"{root}/{name}", df)
    c0 = snapshot_read(spark, f"{root}/centroids", version=0)
    cb0 = snapshot_read(spark, f"{root}/codebook", version=0)
    # FAISS add(): encode arrivals against the committed structures
    snapshot_append(spark, f"{root}/codes", ivf_pq_encode(arrivals, c0, cb0))
    codes1 = snapshot_read(spark, f"{root}/codes", version=1)
    grown = trained.unionByName(arrivals)

    # 1. the drift gate trips: drifted arrivals land in far cells with
    # bloated residuals vs the trained corpus's
    e_tr = _mean_energy(spark, codes1.filter(F.col("vec_id") < 1000), trained, c0)
    e_app = _mean_energy(
        spark, codes1.filter(F.col("vec_id") >= 1000), arrivals, c0
    )
    drift_ppm = e_app * 1_000_000 // e_tr
    assert drift_ppm > RETRAIN_DRIFT_PPM, (e_tr, e_app, drift_ppm)

    # 2. recall on drifted queries degrades under a fixed probe budget:
    # the cone's vectors share a couple of coarse cells and the codebook
    # never saw their residuals, so ADC can't separate near-parallel
    # neighbors inside the narrow rerank window
    queries = spark.createDataFrame(
        [(2000 + g, _drifted_query(g)) for g in range(8)],
        "query_id long, qvec array<double>",
    )
    truth: dict[int, set[int]] = {}
    for r in brute_force_topk(queries, grown, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    pre = _recall(spark, truth, c0, cb0, codes1, grown, queries)

    # 3. the maintenance op: retrain over the grown corpus, committed as
    # the next version of each index table (readers stay version-pinned)
    versions = ann_index_retrain(spark, root, grown)
    assert versions == {"centroids": 1, "codebook": 1, "codes": 2}
    # the retrain also lands ONE atomic group over the mixed-version
    # family, so readers resolve a consistent triple instead of relying
    # on the equal-version convention (false here: codes leads by one)
    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_group,
        read_group_manifest,
        snapshot_read_group,
    )

    g = latest_group(root)
    assert read_group_manifest(root, g)["members"] == versions
    c1 = snapshot_read_group(spark, root, "centroids", group=g)
    cb1 = snapshot_read_group(spark, root, "codebook", group=g)
    codes2 = snapshot_read_group(spark, root, "codes", group=g)
    post = _recall(spark, truth, c1, cb1, codes2, grown, queries)
    # deterministic measured values: pre = 0.125, post = 0.625 — a 5x
    # recovery. Absolute post recall is capped by the config's tiny
    # codebook (8 subspaces x 16 codewords shared with the uniform
    # corpus's residuals), not by the lifecycle: the pin is the GAP.
    assert pre <= 0.2, f"drifted-index recall should collapse: pre={pre}"
    assert post >= pre + 0.4, f"retrain must recover recall: pre={pre} post={post}"
    # v0 structures still read — the swap never disturbs pinned readers
    assert snapshot_read(spark, f"{root}/centroids", version=0).count() == 16
    shutil.rmtree(root, ignore_errors=True)


def test_semdedup_guard_retrain_recovery(spark):
    """The SemDeDup pair-budget guard's named fix must be executable and
    sufficient: on a corpus that outgrew its
    index's cell count the guard REFUSES (Sum(|cell|^2) > budget — with
    13.5k vectors in 16 cells that holds for ANY assignment, since
    min Sum(n^2) = n^2/k > 10M), then ann_index_retrain with
    n_clusters scaled up restores the bound and the rerun passes under
    the SAME 10M budget, collapsing the replica dups it was built to
    find. Corpus = the sf0.001 embeddings replicated 27x with offset ids
    (identical vectors — replicas must land in their base's cell and
    collapse onto the lowest id): 13.5k vectors in 16 cells gives
    min Sum(n^2) = 13500^2/16 = 11.4M > 10M for ANY assignment."""
    import pytest

    from petfinder_database_distributor_spark.plans.corpus_ops import (
        semdedup_decisions,
    )
    from petfinder_database_distributor_spark.schema import load_table
    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_group,
        snapshot_read_group,
    )
    from tests.conftest import SF_SMALL

    root = f"{SCRATCH_ROOT}/semdedup_retrain_test"
    shutil.rmtree(root, ignore_errors=True)
    base = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    n_base = base.count()
    corpus = (
        base.crossJoin(spark.range(27).select(F.col("id").alias("r")))
        .select(
            (F.col("vec_id") + F.col("r") * n_base).alias("vec_id"),
            "embedding",
        )
        .localCheckpoint(eager=True)
    )
    centroids, cb, codes = ivf_pq_train(corpus)
    for name, df in (("centroids", centroids), ("codebook", cb), ("codes", codes)):
        snapshot_write(spark, f"{root}/{name}", df)

    members0 = (
        snapshot_read(spark, f"{root}/codes", version=0)
        .select("vec_id", "centroid_id")
        .join(corpus, "vec_id")
    )
    with pytest.raises(ValueError, match="n_clusters"):
        semdedup_decisions(members0)

    # the guard's named fix: retrain with cells scaled to the corpus
    versions = ann_index_retrain(spark, root, corpus, n_clusters=128)
    codes1 = snapshot_read_group(
        spark, root, "codes", group=latest_group(root)
    )
    members1 = codes1.select("vec_id", "centroid_id").join(corpus, "vec_id")
    dec = semdedup_decisions(members1)  # same 10M budget — must not raise
    rows = dec.collect()
    assert len(rows) == 27 * n_base
    assert versions["codes"] == 1
    # every replica (vec_id >= n_base) has an identical smaller-id twin
    # in ITS OWN cell — all must collapse onto a representative
    replicas = [r for r in rows if r["vec_id"] >= n_base]
    assert replicas and all(not r["keep"] for r in replicas)
    assert all(r["dup_of"] is not None for r in replicas)
    shutil.rmtree(root, ignore_errors=True)


def test_recover_witness_predicate_twins_agree():
    """The recovery witness's corpus slice exists twice — the Spark
    filter inside knn_graph_retrain_recover and KNN_RECOVER_PRED_SQL in
    its oracle — with a MUST-stay-in-sync comment. Pin it executably:
    both predicates select the same vec_ids over an exhaustive id range."""
    import duckdb

    from petfinder_database_distributor_spark.plans.corpus_ops import (
        KNN_RECOVER_PRED_SQL,
    )

    sql_ids = {
        r[0]
        for r in duckdb.sql(
            "SELECT vec_id FROM (SELECT unnest(range(0, 200)) AS vec_id)"
            f" WHERE {KNN_RECOVER_PRED_SQL}"
        ).fetchall()
    }
    # the Spark-side filter, restated in python semantics
    py_ids = {
        v for v in range(200) if v % 5 != 0 and (v < 16 or v % 4 == 1)
    }
    assert sql_ids == py_ids
