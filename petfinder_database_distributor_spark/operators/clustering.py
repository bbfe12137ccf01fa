"""Distributed clustering / graph-ranking kernels for the LLM-data layer.

Two iterative algorithms, both built integer-exact so every result is
bit-identical to the DuckDB oracle (the same portability discipline as the
sketch family):

* :func:`kmeans_int8` — Lloyd's k-means over int8-quantized embeddings.
  Distances are integer squared-L2 and centroid updates use portable floor
  division, so the fixed-iteration result is deterministic across engines.
  The 100 TB shape: assignment is a PURE PROJECTION (centroids are k×dim
  literals baked into the expression tree — vectors are never duplicated
  through a join), and the only shuffle per iteration is the bounded
  (k × dim)-key centroid update. Per-iteration driver state is k centroid
  rows — the same bounded-scalar class as the connected-components
  convergence witness.

* :func:`pagerank_integer` — fixed-iteration PageRank with ranks held as
  integers in units of 1/SCALE. Contributions use integer division
  (`rank div outdeg`), so no float summation order can perturb the result.
  Fully declarative: no driver-side collect; each iteration is one
  edges⋈outdeg⋈ranks join plus one groupBy(dst) — the classic O(iters)
  bulk-synchronous shape. Dangling-node mass is dropped (ranks are a
  deterministic contraction, not a normalized distribution) — the common
  bulk-processing variant, stated in the output contract.

Reference scope note: the reference engine has no clustering/graph layer —
these extend the north-star LLM-pipeline surface (SURVEY.md §2 north-star
table) like the dedup/sketch families do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Python-semantics floor division for possibly-negative integer columns.
# Spark's `div` truncates toward zero and DuckDB's `//` floors; routing
# both engines through (a - pymod(a, b)) / b — where pymod is the
# always-nonnegative remainder — makes them agree on every input. The
# final division is exact (the numerator is a multiple of b), so `div`
# (Spark) and `//` (DuckDB) coincide.
FLOORDIV_SQL = "(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) {op} ({b})"


def _floordiv(a: str, b: str) -> str:
    """Spark-side portable floor division as a SQL expression string."""
    return FLOORDIV_SQL.format(a=a, b=b, op="div")


def quantize_int8(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization (scale = max|x|/127, q = floor(x/s + .5))
    — the same portable kernel as the ``embedding_quantize_int8`` query,
    returned as an integer vector for exact downstream arithmetic.

    Rows with a NULL id or NULL vector are EXCLUDED up front — part of the
    operator contract, mirrored in the oracle's WHERE. Without it the two
    engines diverge on nulls (Spark's posexplode drops a NULL vector from
    the centroid update while the oracle's count(*) still divides by it,
    and a NULL id crashes the Python seed sort / sorts NULLS FIRST vs
    DuckDB's NULLS LAST)."""
    emb = emb.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
    e = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(e, lambda x: F.floor(x / scale + F.lit(0.5))),
    ).otherwise(F.transform(e, lambda x: F.lit(0).cast("long")))
    return emb.select(F.col(id_col).alias("vec_id"), q.alias("q"))


def _assign(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment as a pure projection: one
    (dist, cluster) struct per centroid, ``array_min`` picks the smallest
    distance with ties broken toward the smallest cluster id (struct
    ordering is lexicographic — the oracle's ORDER BY dist, cluster).

    The whole argmin is rendered as ONE SQL expression string: building
    the same tree through the Column API costs ~2 s of py4j round-trips
    per call (k × dim literal Columns), which tripled the operator's wall
    time; a single ``F.expr`` parses on the JVM in milliseconds."""
    structs = []
    for cid, vec in cents:
        carr = "array(" + ",".join(f"{int(v)}L" for v in vec) + ")"
        dist = (
            f"aggregate(zip_with(q, {carr}, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        )
        structs.append(
            f"named_struct('dist', {dist}, 'cluster', CAST({int(cid)} AS INT))"
        )
    best = f"array_min(array({','.join(structs)}))"
    # Materialize the struct once, extract after: interpreted HOFs get no
    # CSE, so inlining `best` into both field extracts would run the k×dim
    # distance computation twice per row (CollapseProject keeps the
    # two-step shape — struct field extraction is not collapse-cheap).
    return qdf.select("vec_id", "q", F.expr(best).alias("best")).select(
        "vec_id",
        "q",
        F.col("best.cluster").alias("cluster"),
        F.col("best.dist").alias("dist"),
    )


def _assign_arrow(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Arrow-batched assignment kernel — the large-k alternative path.

    Nearest-centroid is a k×dim multiply-accumulate per row — a matrix
    product — and Spark's higher-order functions run it interpreted (no
    codegen). The numpy kernel computes |q|² − 2qCᵀ + |c|² in exact int64
    (inputs are int8-range, so every intermediate is far below 2⁵³ let
    alone int64 overflow). Measured head-to-head at k=8/dim=64 the two
    paths tie (the Arrow round-trip of the vector column offsets the
    interpreter cost; warm 8×-data runs were within noise of each other
    once the quantized set is persisted), so the k=8 query defaults to
    the JVM expression twin; this kernel is the path to flip to when k
    grows — per-row work scales ×k for the interpreter but amortizes
    into one matmul here. Tie-break parity: ``argmin`` returns the FIRST
    minimum and ``cents`` is sorted by cluster id, matching the expression
    twin's struct-min and the oracle's ORDER BY dist, cluster
    (pinned in tests/test_mining.py::test_assignment_paths_agree)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([cid for cid, _ in cents], dtype=np.int32)
    cmat = np.stack([np.asarray(c, dtype=np.int64) for _, c in cents])
    c_sq = (cmat * cmat).sum(axis=1)

    @pandas_udf("struct<cluster:int, dist:bigint>")
    def nearest(qs):  # pd.Series of list<long> -> pd.DataFrame
        if len(qs) == 0:
            return pd.DataFrame({"cluster": pd.array([], dtype="int32"),
                                 "dist": pd.array([], dtype="int64")})
        q = np.stack([np.asarray(v, dtype=np.int64) for v in qs])
        d = (q * q).sum(axis=1)[:, None] - 2 * (q @ cmat.T) + c_sq[None, :]
        b = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cids[b], "dist": d[np.arange(len(b)), b]}
        )

    return qdf.select("vec_id", "q", nearest("q").alias("best")).select(
        "vec_id",
        "q",
        F.col("best.cluster").alias("cluster"),
        F.col("best.dist").alias("dist"),
    )


def _update(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """Centroid update: posexplode → groupBy (cluster, pos) — a bounded
    k×dim-key aggregation regardless of input size — then floor-mean per
    coordinate. Returns the k (or fewer: empty clusters vanish, in both
    engines, by GROUP BY) new centroids as driver literals."""
    agg = (
        assigned.select("cluster", F.posexplode("q").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .withColumn("v", F.expr(_floordiv("s", "n")))
    )
    rows = (
        agg.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda st: st.getField("v"),
            ).alias("c")
        )
        .collect()
    )
    return sorted((r["cluster"], list(r["c"])) for r in rows)


def kmeans_int8(
    emb: DataFrame, k: int = 8, iters: int = 2, use_arrow: bool = False
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over int8-quantized embeddings.

    Seeds are the k smallest ``vec_id`` vectors (deterministic, no RNG);
    ``iters`` rounds of (assign → floor-mean update); the returned frame is
    the FINAL assignment (vec_id, cluster, dist) against the post-update
    centroids. Runs ``iters`` bounded Spark jobs at call time (k×dim longs
    collected per round — the documented bounded-scalar exception, like the
    components convergence witness). ``use_arrow`` switches to the numpy
    matmul kernel — bit-identical outputs (test-pinned), the path to
    prefer when k is large; at k=8 the JVM expression form ties it and
    stays codegen-adjacent, so it is the default."""
    from pyspark import StorageLevel

    assign = _assign_arrow if use_arrow else _assign
    # Persist the quantized working set: every pass (seeds, each update,
    # final assignment) otherwise re-scans parquet and re-runs the
    # interpreted-HOF quantization — the measured dominant cost at 8×
    # data. Caching the iterate is the standard Spark shape for iterative
    # algorithms (MLlib k-means does exactly this); MEMORY_AND_DISK spills
    # rather than OOMs at scale. Freed before returning, on every path:
    # the returned plan recomputes the quantization from its source
    # instead of reading a cache entry that would outlive the call for
    # the rest of the session.
    qdf = quantize_int8(emb).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed_rows = qdf.orderBy("vec_id").limit(k).collect()
        if not seed_rows:
            # degenerate input: no vectors -> no clusters, the typed empty
            # assignment (the k-center empty-seed contract; an empty
            # _assign would otherwise build a zero-arm least() and fail to
            # resolve)
            return emb.sparkSession.createDataFrame(
                [], "vec_id long, cluster int, dist bigint"
            )
        cents = [
            (i, list(r["q"]))
            for i, r in enumerate(sorted(seed_rows, key=lambda r: r["vec_id"]))
        ]
        for _ in range(iters):
            cents = _update(assign(qdf, cents))
        return assign(qdf, cents).select("vec_id", "cluster", "dist")
    finally:
        qdf.unpersist()


def pagerank_integer(
    edges: DataFrame, iters: int = 3, scale: int = 10**12, top: int = 20
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list
    (columns ``src``, ``dst``; caller pre-dedups).

    rank₀(v) = SCALE div N;  rankₜ₊₁(v) = (15·(SCALE div N)) div 100
    + (85·Σ_{u→v} rankₜ(u) div outdeg(u)) div 100. All quantities are
    nonnegative integers, so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree and the result is bit-exact cross-engine.
    Dangling mass is dropped (documented contraction). Output: top-``top``
    nodes ordered (rank DESC, node ASC) via TakeOrderedAndProject."""
    # Materialize edges/nodes/outdeg ONCE at call time: every iteration
    # joins them, and without the checkpoint each round re-runs the
    # upstream scan + DISTINCT (the same lineage-truncation move the
    # star-components loop makes; measured -30% wall). This makes
    # pagerank_integer a call-time-materializing iterative like
    # kmeans_int8/connected_components — three bounded jobs over the
    # edge list run when the plan is BUILT, not deferred (under AQE even
    # a lazy localCheckpoint executes its stages via toRdd, so there is
    # no job-free variant of this shape — stated rather than pretended
    # away).
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nstats = nodes.agg(F.count("*").alias("n_nodes"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint(
        eager=True
    )
    base = f"(15 * (cast({scale} as bigint) div n_nodes)) div 100"
    ranks = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", F.expr(f"cast({scale} as bigint) div n_nodes").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("contrib"),
            )
        )
        inc = contrib.groupBy("node").agg(F.sum("contrib").alias("inc"))
        ranks = (
            nodes.join(inc, "node", "left")
            .crossJoin(F.broadcast(nstats))
            .select(
                "node",
                F.expr(f"({base}) + ((85 * coalesce(inc, 0)) div 100)").alias("rank"),
            )
        )
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(top)
