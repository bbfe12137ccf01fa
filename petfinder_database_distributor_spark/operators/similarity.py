"""Similarity search over embedding columns (north star): brute-force
cosine top-k as the exact baseline, SRP-LSH (random-hyperplane) bucketing as
the scale path.

Scale design:
- Brute force broadcasts the (small) query set and computes scores map-side
  over the corpus — one window shuffle on query_id for top-k. Right shape
  up to ~10^3 queries; beyond that, the LSH path bounds candidates per
  query by bucket.
- Hyperplanes are FORMULA-derived (deterministic integers), not RNG —
  reproducible across engines, so even the ANN path is oracle-checkable.
- Dot products run element-ordered (zip_with → sequential aggregate), i.e.
  the same IEEE operation order DuckDB's list_inner_product uses — results
  are bit-identical, no rounding fudge needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


# Zero-norm vector contract: a zero
# vector has no direction, so cosine is undefined on it — and under
# Spark 4.x's default ANSI mode the norm-product division RAISES
# DIVIDE_BY_ZERO, killing a 100 TB job on one dirty row (DuckDB's
# double 0/0 diverges to NULL/NaN instead — asymmetric either way).
# Zero-norm rows are excluded at the family entry exactly like NULL
# vectors. This pair applies at every registered cosine-family entry;
# the staged kNN graph rides it too.
NONZERO_VEC_SQL = "len(list_filter({v}, x -> x <> 0)) > 0"


def nonzero_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop zero-norm vectors — the Spark half of the contract above
    (`F.exists` is a short-circuiting JVM-side predicate; no norm is
    computed, so the filter is cheaper than the division it guards)."""
    return df.filter(F.exists(F.col(vec_col), lambda x: x != 0))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid: str = "query_id",
    cid: str = "vec_id",
    qvec: str = "qvec",
    cvec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (excluding self-matches by id).

    queries: (query_id, qvec)   corpus: (vec_id, embedding)
    """
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(qid),
        F.col(cid),
        cosine(as_double(F.col(qvec)), as_double(F.col(cvec))).alias("cos"),
    ).filter(F.col(qid) != F.col(cid))
    w = Window.partitionBy(qid).orderBy(F.col("cos").desc(), F.col(cid))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, cid, "rank", F.round(F.col("cos"), 6).alias("cos_r"))
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bands: int = 16,
    band_bits: int = 8,
    dim: int = 64,
    probe_bits: int = 1,
    qid: str = "query_id",
    cid: str = "vec_id",
    qvec: str = "qvec",
    cvec: str = "embedding",
) -> DataFrame:
    """Banded multi-probe SRP-LSH ANN top-k: a corpus vector is a candidate
    when ANY of its ``bands`` band keys (disjoint ``band_bits``-bit sign
    slices of the splitmix64 hyperplane family — see
    :func:`srp_band_keys_udf`) matches one of the query's PROBED keys; the
    probe set per band is the exact key plus every key within hamming
    distance ``probe_bits`` of it (Lv et al., multi-probe LSH): a neighbor
    that disagrees on one plane of a band is still found. Candidates are
    scored exactly and ranked top-k.

    Probing expands the QUERY side only (1 + band_bits keys per band at
    probe_bits=1) — corpus rows still carry one key per band, so the index
    size is unchanged and the join stays a (band, key) equi-join. On the
    driver testdata, where true top-5 cosines are a hard ~0.30-0.39,
    measured recall@5 is 0.475 at 16 bands × 6 bits without probes and
    0.875 at 16 bands × 8 bits with 1-bit probes, with candidate volume
    ~bands·(1+band_bits)·|corpus|/2^band_bits per query — pinned in
    tests/test_ann_recall.py. Every join is a (band, key) or id equi-join,
    never a cartesian — the shape that survives at 100 TB."""
    keys = srp_band_keys_udf(bands, band_bits, dim)
    qb = queries.select(
        F.col(qid), F.posexplode(keys(as_double(F.col(qvec)))).alias("band", "key")
    )
    if probe_bits >= 1:
        # hamming-ball-1 probes: XOR each single bit of the band key
        qb = qb.select(
            F.col(qid),
            "band",
            F.explode(
                F.array(
                    F.col("key"),
                    *[
                        F.col("key").bitwiseXOR(F.lit(1 << j).cast("long"))
                        for j in range(band_bits)
                    ],
                )
            ).alias("key"),
        )
    cb = corpus.select(
        F.col(cid), F.posexplode(keys(as_double(F.col(cvec)))).alias("band", "key")
    )
    cand = (
        qb.join(cb, on=["band", "key"])
        .filter(F.col(qid) != F.col(cid))
        .select(qid, cid)
        .distinct()
    )
    qv = queries.select(F.col(qid), F.col(qvec))
    cv = corpus.select(F.col(cid), F.col(cvec))
    scored = (
        cand.join(F.broadcast(qv), qid)  # bounded query set — broadcast
        .join(cv, cid)
        .select(
            F.col(qid),
            F.col(cid),
            cosine(as_double(F.col(qvec)), as_double(F.col(cvec))).alias("cos"),
        )
    )
    w = Window.partitionBy(qid).orderBy(F.col("cos").desc(), F.col(cid))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, cid, "rank", F.round(F.col("cos"), 6).alias("cos_r"))
    )


_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit avalanche hash (splitmix64) — pure-Python, so
    plane coefficients can be inlined as literals into BOTH the Spark UDF
    and the DuckDB oracle SQL (no engine hash function needed)."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return (x ^ (x >> 31)) & _M64


def srp_plane_matrix(n_planes: int, dim: int) -> list[list[int]]:
    """Integer hyperplane coefficients in [-1000, 1000] from splitmix64.

    A linear-congruential formula ((i*A + j*B) % 2001 - 1000) produces
    CORRELATED planes — adjacent rows
    are shifts of one arithmetic progression, which collapsed 256-value
    band keys to ~26-76 distinct values on real data (23% of all pairs
    became candidates, and single-bucket ANN recall@5 was 10%).
    Avalanche-hashed coefficients restore ~uniform bucket occupancy."""
    return [
        [int(_splitmix64(i * dim + j) % 2001) - 1000 for j in range(dim)]
        for i in range(n_planes)
    ]


def srp_band_keys_udf(bands: int = 8, band_bits: int = 8, dim: int = 64):
    """Pandas UDF: embedding array<double> → array<long> of ``bands`` SRP
    band keys, one int64 matmul per Arrow batch.

    Exact-integer construction: quantized vector round(1000*x)::int64
    dotted against the integer plane coefficients from
    :func:`srp_plane_matrix` (splitmix64-avalanched, in [-1000, 1000]; a
    linear-congruential formula produces correlated planes — see that
    function's docstring). Products ≤1e9, 64-term sums
    ≤2^40, so the math is exact in both int64 (here) and DuckDB's double
    accumulation (< 2^53), and the sign of every dot — hence every key —
    is engine-independent."""

    plane_rows = srp_plane_matrix(bands * band_bits, dim)

    def keys_series(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as _np

        planes = _np.array(plane_rows, dtype=_np.int64)
        weights = (1 << _np.arange(band_bits)).astype(_np.int64)
        for s in batches:
            if s.empty:  # empty partitions are normal at cluster layouts
                yield s
                continue
            arr = _np.stack(s.to_numpy())  # (n, dim) float64
            # round-half-away-from-zero == Spark F.round / DuckDB round()
            q = (_np.sign(arr) * _np.floor(_np.abs(arr) * 1000 + 0.5)).astype(
                _np.int64
            )
            bits = (q @ planes.T) >= 0  # (n, n_planes) exact integer dots
            keys = (
                bits.reshape(len(arr), bands, band_bits).astype(_np.int64) @ weights
            )
            yield pd.Series(list(keys.tolist()))

    return F.pandas_udf(keys_series, T.ArrayType(T.LongType()))


def embedding_neardup_pairs(
    emb: DataFrame,
    vid: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bands: int = 8,
    band_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded SRP-LSH — the blocked
    shape that survives 100 TB (the all-pairs crossJoin baseline does not).

    One ``bands*band_bits``-bit SRP signature per vector, split into
    ``bands`` keys; a pair is a candidate when ANY band matches (the
    MinHash-LSH band construction applied to sign bits), then candidates
    are verified with the exact cosine. Multi-band matters: a single
    8-bit bucket catches a cos≈0.4 pair with P≈(1-θ/π)^8≈2.5%, while
    8 bands × 4 bits gives 1-(1-p^4)^8 ≈ 75% (→ 99.8% at cos 0.9).
    Recall/cost tune via (bands, band_bits): more bands = recall, more
    bits = selectivity. Candidates flow through a band+key equi-join —
    never a cartesian product (asserted in tests/test_plan_quality.py).
    """
    # Candidate generation runs on (id, band, key) rows ONLY — embedding
    # arrays never ride the band join or the distinct; vectors re-join by id
    # afterwards (equi-join on vec_id, broadcastable while the verified
    # candidate set is the big side — the same two-phase shape the DuckDB
    # oracle states).
    #
    # Band keys come from an Arrow-batched numpy pandas UDF doing ONE
    # int64 matmul per batch. This is the deliberate UDF exception: 64
    # plane dot-products per row as built-in higher-order functions are
    # interpreted (no codegen) AND the expression tree alone takes Catalyst
    # seconds to compile — measured 5s/query at sf0.1 vs ~0.1s for the
    # matmul. Exactness: embeddings quantize to round(1000*x) int64 (the
    # ivf_topk trick), so every dot product is an exact integer — summation
    # order can't flip a sign and the DuckDB oracle reproduces keys
    # bit-for-bit.
    banded = emb.select(
        F.col(vid),
        F.posexplode(
            srp_band_keys_udf(bands, band_bits, dim)(as_double(F.col(vec_col)))
        ).alias("band", "key"),
    )
    a = banded.select(F.col(vid).alias("id_a"), "band", "key")
    b = banded.select(F.col(vid).alias("id_b"), "band", "key")
    cand = (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = emb.select(F.col(vid).alias("id_a"), F.col(vec_col).alias("va"))
    eb = emb.select(F.col(vid).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = cosine(as_double(F.col("va")), as_double(F.col("vb")))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("cos"), 6).alias("cos_r"))
    )


def similarity_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    max_exact_pairs: int = 10_000_000,
    queries_count: int | None = None,
    corpus_count: int | None = None,
    **kwargs,
) -> DataFrame:
    """Cost-based chooser (SURVEY §7.2's optional LSH-vs-broadcast rule):
    score exactly via the broadcast brute-force path while
    |queries|·|corpus| stays under ``max_exact_pairs`` (exact beats
    approximate whenever you can afford the scan — no index build, full
    recall), switch to banded SRP-LSH above it. Pass ``queries_count`` /
    ``corpus_count`` when known (e.g. from table stats) to skip the
    counting jobs — mirroring how Catalyst's own join strategy consults
    statistics rather than scanning."""
    nq = queries_count if queries_count is not None else queries.count()
    nc = corpus_count if corpus_count is not None else corpus.count()
    if nq * nc <= max_exact_pairs:
        return brute_force_topk(queries, corpus, k=k, **kwargs)
    return lsh_topk(queries, corpus, k=k, **kwargs)


def quantize(vec: Column, scale: int = 1000) -> Column:
    """Integer-quantize an embedding (round(x*scale)). Quantization makes
    every centroid update EXACT: integer sums are order-independent, so
    k-means iterations are bit-identical across engines and cluster sizes —
    the property that lets an ITERATIVE algorithm be oracle-checked."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _qd(qcol: Column) -> Column:
    return qcol.cast("array<double>")


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer inner product (ordered aggregate over quantized
    vectors) — order-free because every partial is an exact int64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(vecs: DataFrame, vid: str, m_sub: int, sub_dim: int) -> DataFrame:
    """(id, qe) -> (id, m, sv): the m-th ``sub_dim``-wide slice per row."""
    sv_arr = F.array(
        *[F.slice(F.col("qe"), m * sub_dim + 1, sub_dim) for m in range(m_sub)]
    )
    return vecs.select(F.col(vid), F.posexplode(sv_arr).alias("m", "sv"))


def _pq_assign(subs: DataFrame, cb: DataFrame, vid: str) -> DataFrame:
    """Nearest codeword per (vector, subspace) by exact integer L2
    (``ip(s,s) - 2 ip(s,c) + ip(c,c)``; ties -> smaller codeword id).
    The codebook is m_sub*n_codes rows — always broadcast."""
    d = (
        int_dot(F.col("sv"), F.col("sv"))
        - 2 * int_dot(F.col("sv"), F.col("cw"))
        + int_dot(F.col("cw"), F.col("cw"))
    )
    scored = subs.join(F.broadcast(cb), "m").select(
        F.col(vid), "m", "sv", "j", d.alias("d")
    )
    best = scored.groupBy(vid, "m").agg(
        F.min_by(F.struct("sv", "j"), F.struct("d", "j")).alias("b")
    )
    return best.select(
        F.col(vid), "m", F.col("b.sv").alias("sv"), F.col("b.j").alias("j")
    )


def _update_int(assigned: DataFrame, vid: str) -> DataFrame:
    """Elementwise-mean centroid update kept ON the integer vector scale
    (``round(s/n)`` of exact int sums) so residuals below stay exact
    integers — the same re-quantization trick as the PQ codebook update."""
    dims = (
        assigned.select("centroid_id", F.posexplode("qe").alias("pos", "v"))
        .groupBy("centroid_id", "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return dims.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda e: F.round(e["s"] / e["n"]).cast("long"),
        ).alias("icvec")
    )


def _assign_int(vecs: DataFrame, centroids: DataFrame, vid: str) -> DataFrame:
    """Nearest integer centroid by cosine (scale-invariant, so integer
    centroids rank identically to their /scale doubles); ties -> smaller
    centroid_id, via one max_by aggregate (never a per-row window)."""
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        F.col(vid),
        "qe",
        "centroid_id",
        cosine(_qd(F.col("qe")), _qd(F.col("icvec"))).alias("cos"),
    )
    best = scored.groupBy(vid).agg(
        F.max_by(
            F.struct("qe", "centroid_id"),
            F.struct(F.col("cos"), (-F.col("centroid_id")).alias("neg_id")),
        ).alias("best")
    )
    return best.select(
        F.col(vid),
        F.col("best.qe").alias("qe"),
        F.col("best.centroid_id").alias("centroid_id"),
    )


def ivf_pq_train(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 1,
    m_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    scale: int = 1000,
    cid: str = "vec_id",
    cvec: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the IVF+PQ index structures over ``corpus`` and return
    ``(centroids, codebook, codes)`` — the three BUILD-ONCE artifacts a
    serving deployment persists (as snapshot tables; see
    plans/llm_pipeline.py ann_index_probe_topk) so no query ever pays
    the Lloyd iterations again:

    - centroids: (centroid_id int, icvec array<long>) — n_clusters rows.
    - codebook:  (m, j int, cw array<long>) — m_sub*n_codes rows.
    - codes:     (vec_id, code array<int>, centroid_id) — one row per
      corpus vector: its cell + m_sub 4-bit residual codewords, the only
      corpus-sized artifact (a few bytes/vector).

    All integer arithmetic (quantized vectors, re-quantized integer
    centroids and codewords) — deterministic, hence the trained index is
    itself oracle-checkable. New vectors join WITHOUT retraining via
    :func:`ivf_pq_encode` (assign to the nearest existing cell, residual-
    encode with the existing codebook) — FAISS's add-after-train contract."""
    qcorpus = corpus.select(
        F.col(cid), quantize(F.col(cvec), scale).alias("qe")
    ).persist()
    centroids = qcorpus.filter(F.col(cid) < n_clusters).select(
        F.col(cid).cast("int").alias("centroid_id"), F.col("qe").alias("icvec")
    )
    for _ in range(iters):
        assigned = _assign_int(qcorpus, centroids, cid)
        centroids = _update_int(assigned, cid).localCheckpoint(eager=True)
    # DISK_ONLY for both corpus-sized materializations (inverted file,
    # codes): memory-store checkpoints pin bulk blocks across queries in
    # a small-heap session until the driver runs out of heap; the tiny
    # centroid/codebook checkpoints stay in memory
    ivf = _assign_int(qcorpus, centroids, cid).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    qcorpus.unpersist()

    # residuals against the assigned cell's integer centroid
    resid = ivf.join(F.broadcast(centroids), "centroid_id").select(
        F.col(cid),
        "centroid_id",
        F.zip_with("qe", "icvec", lambda x, c: x - c).alias("qe"),
    ).persist()
    subs = _pq_subvectors(resid, cid, m_sub, sub_dim).persist()
    cb = subs.filter(F.col(cid) < n_codes).select(
        "m", F.col(cid).cast("int").alias("j"), F.col("sv").alias("cw")
    )
    for _ in range(iters):
        assigned = _pq_assign(subs, cb, cid)
        dims = (
            assigned.select("m", "j", F.posexplode("sv").alias("i", "v"))
            .groupBy("m", "j", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cb = (
            dims.groupBy("m", "j")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "s", "n"))),
                    lambda e: F.round(e["s"] / e["n"]).cast("long"),
                ).alias("cw")
            )
            .localCheckpoint(eager=True)
        )
    codes = (
        _pq_assign(subs, cb, cid)
        .groupBy(cid)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "j"))),
                lambda e: e["j"],
            ).alias("code")
        )
        .join(resid.select(cid, "centroid_id"), cid)
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    subs.unpersist()
    resid.unpersist()
    return centroids, cb, codes


def ivf_pq_encode(
    vecs: DataFrame,
    centroids: DataFrame,
    cb: DataFrame,
    m_sub: int = 8,
    sub_dim: int = 8,
    scale: int = 1000,
    cid: str = "vec_id",
    cvec: str = "embedding",
) -> DataFrame:
    """Encode NEW vectors against an EXISTING trained index — assign each
    to its nearest committed centroid and residual-encode with the
    committed codebook, no Lloyd iteration anywhere. This is the index
    MAINTENANCE path: at 100 TB, arrivals append their (cell, codes) rows
    to the codes table (snapshot_merge) while centroids/codebook stay
    immutable until the next scheduled retrain — FAISS ``add()`` vs
    ``train()``. Returns (vec_id, code array<int>, centroid_id) rows,
    schema-identical to :func:`ivf_pq_train`'s codes output."""
    qv = vecs.select(F.col(cid), quantize(F.col(cvec), scale).alias("qe"))
    ivf = _assign_int(qv, centroids, cid)
    resid = ivf.join(F.broadcast(centroids), "centroid_id").select(
        F.col(cid),
        "centroid_id",
        F.zip_with("qe", "icvec", lambda x, c: x - c).alias("qe"),
    )
    subs = _pq_subvectors(resid, cid, m_sub, sub_dim)
    return (
        _pq_assign(subs, cb, cid)
        .groupBy(cid)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "j"))),
                lambda e: e["j"],
            ).alias("code")
        )
        .join(resid.select(cid, "centroid_id"), cid)
    )


def ivf_pq_probe(
    queries: DataFrame,
    centroids: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    m_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    rerank: int = 64,
    scale: int = 1000,
    qid: str = "query_id",
    cid: str = "vec_id",
    qvec: str = "qvec",
    cvec: str = "embedding",
) -> DataFrame:
    """IVF+PQ SEARCH against trained/committed index structures — the
    query-time half of the FAISS IVFPQ split, with ZERO training in the
    plan. Per query: rank the (broadcast, bounded-by-config) centroids,
    keep ``nprobe`` cells, build one tiny m_sub x n_codes LUT from the
    (broadcast) codebook, ADC-score only the probed cells' codes rows,
    exact-cosine re-rank of the top ``rerank`` against raw embeddings.
    Scoring identity: ip(q, centroid + decoded_residual) = ip(q, c) +
    sum_m LUT_q[m, code_m] — exact integers throughout the approximate
    stage, so the ranking is bit-reproducible cross-engine."""
    qq = queries.select(F.col(qid), quantize(F.col(qvec), scale).alias("qe"))
    # cell probes: rank cells by cosine, keep nprobe, carry the exact
    # integer correction term ip(q, centroid) for the ADC score
    probe_scored = qq.crossJoin(F.broadcast(centroids)).select(
        F.col(qid),
        F.col("qe"),
        "centroid_id",
        cosine(_qd(F.col("qe")), _qd(F.col("icvec"))).alias("pcos"),
        int_dot(F.col("qe"), F.col("icvec")).alias("ipqc"),
    )
    wp = Window.partitionBy(qid).orderBy(F.col("pcos").desc(), F.col("centroid_id"))
    probes = (
        probe_scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(qid), "qe", "centroid_id", "ipqc")
    )
    # one LUT per query (m_sub x n_codes ints), built from the FULL query
    # slices: ip(q, centroid + resid) = ip(q, c) + sum_m ip(q_m, cw_m)
    qsubs = _pq_subvectors(qq, qid, m_sub, sub_dim)
    lut_rows = qsubs.join(F.broadcast(cb), "m").select(
        F.col(qid),
        (F.col("m") * n_codes + F.col("j")).cast("int").alias("slot"),
        int_dot(F.col("sv"), F.col("cw")).alias("ip"),
    )
    luts = lut_rows.groupBy(qid).agg(
        F.map_from_entries(F.collect_list(F.struct("slot", "ip"))).alias("lut")
    )
    seq = F.sequence(F.lit(0), F.lit(m_sub - 1))
    resid_ip = F.aggregate(
        F.zip_with(
            F.col("code"),
            seq,
            lambda j, m: F.element_at(
                F.col("lut"), (m * n_codes + j).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # luts grows WITH the query set — equi-join on qid with NO mandatory
    # broadcast hint: AQE broadcasts while small, degrades to a shuffle
    # join on a large serving batch instead of OOMing the driver
    adc = (
        probes.join(luts, qid)
        .join(codes, "centroid_id")
        .filter(F.col(qid) != F.col(cid))
        .select(F.col(qid), F.col(cid), (F.col("ipqc") + resid_ip).alias("approx"))
    )
    wr = Window.partitionBy(qid).orderBy(F.col("approx").desc(), F.col(cid))
    cand = (
        adc.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= rerank)
        .select(qid, cid)
    )
    eq = queries.select(F.col(qid), as_double(F.col(qvec)).alias("qv"))
    ec = corpus.select(F.col(cid), as_double(F.col(cvec)).alias("cv"))
    scored = (
        # eq also grows with the query set — let AQE decide (see luts above)
        cand.join(eq, qid)
        .join(ec, cid)
        .select(F.col(qid), F.col(cid), cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy(qid).orderBy(F.col("cos").desc(), F.col(cid))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, cid, "rank", F.round(F.col("cos"), 6).alias("cos_r"))
    )


def ivf_flat_probe(
    queries: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    scale: int = 1000,
    qid: str = "query_id",
    cid: str = "vec_id",
    qvec: str = "qvec",
    cvec: str = "embedding",
) -> DataFrame:
    """IVF-FLAT search against COMMITTED index structures — the query-time
    half of FAISS IndexIVFFlat, zero training in the plan: rank the
    (config-bounded, broadcast) committed centroids per query, keep
    ``nprobe`` cells, pull those cells' members from the committed codes
    table's (vec_id, centroid_id) column — the inverted file IS the index
    — and score only the members EXACTLY against raw embeddings. No ADC
    and no rerank cap: within the probed cells the score is already the
    true cosine, so this is the accuracy end of the committed-index
    ladder (ivf_pq_probe is the bytes-bound end). Search cost per query:
    ~nprobe/n_clusters of the corpus, each a full-vector cosine."""
    qq = queries.select(F.col(qid), quantize(F.col(qvec), scale).alias("qe"))
    probe_scored = qq.crossJoin(F.broadcast(centroids)).select(
        F.col(qid),
        "centroid_id",
        cosine(_qd(F.col("qe")), _qd(F.col("icvec"))).alias("pcos"),
    )
    wp = Window.partitionBy(qid).orderBy(F.col("pcos").desc(), F.col("centroid_id"))
    probes = (
        probe_scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(qid), "centroid_id")
    )
    cand = (
        probes.join(codes.select(F.col(cid), "centroid_id"), "centroid_id")
        .filter(F.col(qid) != F.col(cid))
        .select(qid, cid)
    )
    # query-growing sides (eq) carry NO mandatory broadcast hint — AQE
    # broadcasts while the serving batch is small (same rule as the
    # luts joins in pq_adc_topk / ivf_pq_probe)
    eq = queries.select(F.col(qid), as_double(F.col(qvec)).alias("qv"))
    ec = corpus.select(F.col(cid), as_double(F.col(cvec)).alias("cv"))
    scored = (
        cand.join(eq, qid)
        .join(ec, cid)
        .select(F.col(qid), F.col(cid), cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy(qid).orderBy(F.col("cos").desc(), F.col(cid))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, cid, "rank", F.round(F.col("cos"), 6).alias("cos_r"))
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    iters: int = 1,
    nprobe: int = 4,
    m_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    rerank: int = 64,
    scale: int = 1000,
    qid: str = "query_id",
    cid: str = "vec_id",
    qvec: str = "qvec",
    cvec: str = "embedding",
) -> DataFrame:
    """IVF+PQ ANN top-k — the two scale levers COMPOSED, as the big
    vector systems ship them (FAISS IVFPQ, SPANN-style): IVF bounds how
    many vectors a query touches (only ``nprobe`` of ``n_clusters``
    cells are scanned), PQ bounds how many bytes each touched vector
    costs (``m_sub`` 4-bit codes of its RESIDUAL against its cell
    centroid). At 100 TB: corpus partitioned by cell, a query's work is
    nprobe cell scans of a few bytes/vector, full embeddings touched
    only for the ``rerank`` survivors.

    Residual encoding is what makes the composition better than either
    half: within a cell, vectors share their centroid's direction, so
    residuals are small and the per-subspace codebook spends its 16
    codewords on the REMAINING variance.

    This is the one-shot composition train -> probe (oracle-parity
    form); a deployment persists :func:`ivf_pq_train`'s output once and
    serves every query through :func:`ivf_pq_probe` alone — see
    ``ann_index_probe_topk``."""
    centroids, cb, codes = ivf_pq_train(
        corpus,
        n_clusters=n_clusters,
        iters=iters,
        m_sub=m_sub,
        sub_dim=sub_dim,
        n_codes=n_codes,
        scale=scale,
        cid=cid,
        cvec=cvec,
    )
    return ivf_pq_probe(
        queries,
        centroids,
        cb,
        codes,
        corpus,
        k=k,
        nprobe=nprobe,
        m_sub=m_sub,
        sub_dim=sub_dim,
        n_codes=n_codes,
        rerank=rerank,
        scale=scale,
        qid=qid,
        cid=cid,
        qvec=qvec,
        cvec=cvec,
    )
