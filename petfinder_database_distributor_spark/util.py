"""Small engine utilities shared across operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def int_div(a: Column, b: int) -> Column:
    """Truncating integer division (toward zero) over integer columns,
    exact across the full int64 range — the cross-engine twin of DuckDB's
    integer ``//`` (probed: ``-5 // 2 = -2``, truncation).

    Replaces the ``floor(a / b)`` idiom: floor-of-double
    (a) rounds toward -inf, diverging from the oracle for negative
    dividends, and (b) loses exactness once ``a`` exceeds 2^53.
    ``a - (a % b)`` is exactly divisible (Spark's ``%`` takes the
    dividend's sign, so the adjustment truncates toward zero) and the
    division runs in DECIMAL(38,0) where the integral quotient is exact."""
    bb = F.lit(b)
    return ((a - (a % bb)).cast("decimal(38,0)") / bb).cast("long")


def execution_guard(df: DataFrame, ok: Column, msg: Column) -> DataFrame:
    """Attach a deferred scale guard to ``df``: ``ok`` (typically built from
    a ``DataFrame.scalar()`` subquery so it can aggregate over the data) is
    asserted at EXECUTION time. Query construction therefore launches no
    Spark job (guard *actions* at plan-build time cost a job per plan); a
    violated guard fails the job fast — the scalar subquery stage runs
    first, and every map task throws on its first row, before the
    guarded shuffle materializes. The error surfaces as
    ``SparkRuntimeException [USER_RAISED_EXCEPTION] <msg>``.

    ``assert_true`` returns NULL when ``ok`` holds, so the filter keeps
    every row and adds only a per-batch constant check; Catalyst does not
    constant-fold it away (it is marked non-deterministic-safe/side-
    effecting)."""
    return df.filter(F.assert_true(ok, msg).isNull())


def pushdown_barrier(col: Column) -> Column:
    """Value-identical wrapper that stops Catalyst from pushing filters
    below the projection computing ``col`` (the duplication
    trap, native-expression form): a filter on a computed column is
    pushed below its Project with the column's WHOLE expression tree
    substituted into the Filter condition, so every row evaluates the
    expression twice — once in the Filter, once again in the Project.
    Harmless for cheap columns; for the tokenize+shingle trees it doubles
    the dominant map-side CPU of the dedup family at corpus scale, and
    dropping the explicit ``size(sh) > 0`` filter does not fix it because
    InferFiltersFromGenerate re-infers exactly that filter from any
    downstream ``explode`` (the duplicated tree then survives in every
    jaccard/containment/span plan).

    Mechanism: ``rand() + 1.0 >= 0.0`` is always true (rand ∈ [0,1)), so
    the CASE evaluates to ``col`` on every row (the NULL else-branch is
    unreachable) — but rand makes the projection field NON-DETERMINISTIC,
    and PushPredicateThroughNonJoin refuses to push any filter through a
    Project unless every field is deterministic. Inferred and explicit
    filters on the column therefore stay ABOVE the projection, reading
    the already-computed attribute. Cost: one rand + add + compare per
    row — noise next to any expression worth wrapping. The ``+ 1.0``
    indirection is load-bearing: Spark 4.1 constant-folds DIRECT
    rand-vs-literal boundary comparisons (``rand() >= -1`` optimizes to
    the bare column and the barrier vanishes — probed), but does no
    interval arithmetic through the addition. tests/test_plan_quality.py
    pins that the barrier survives optimization, so a future Spark
    upgrade that learns to fold this form fails loudly instead of
    silently re-duplicating the trees.

    Trade-off (why this is not blanket policy): ALL pushdown through the
    wrapped projection stops, including sibling predicates that could
    have reached the parquet scan (e.g. an inferred ``isnotnull(id)``
    no longer lands in PushedFilters). Wrap only projections whose
    recomputation dominates that loss — here, the tokenize chains."""
    return F.when(F.rand() + F.lit(1.0) >= F.lit(0.0), col)


def parquet_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a driver parquet table from file-footer metadata —
    microseconds, zero Spark jobs. The cheap path for guards whose bound is
    a raw-table size (a 100 TB table still answers instantly: footers are
    O(row-groups), not O(rows))."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{table}.parquet"
    files = (
        sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many partitions the file scan under ``df`` will yield,
    from driver-side metadata only (file list + sizes + the session's
    ``spark.sql.files.maxPartitionBytes``) — zero Spark jobs, and crucially
    NO physical planning: the old ``df.rdd.getNumPartitions()`` probe
    physical-planned the frame, which *executes* any scalar-subquery guard
    already attached to it (the invariant "probe before guard" lived in a
    call-site comment; this estimator deletes the trap).

    Mirrors ``FilePartition`` packing to first order: splittable files are
    cut at ``maxPartitionBytes`` and small files are packed together, so
    partitions ≈ ceil(total_bytes / maxPartitionBytes). When file sizes are
    not statable (remote object store), fall back to the file count — at
    real scale that is >= cores and the caller no-ops."""
    import math
    import os
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return 0  # in-memory relation — no scan stage to starve
    try:
        total = 0
        for f in files:
            path = urlparse(f).path if "://" in f else f
            total += os.path.getsize(path)
    except OSError:
        return len(files)
    conf = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    return max(1, math.ceil(total / _parse_bytes(str(conf))))


def _parse_bytes(conf: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g',
    '128MB', plain '134217728'). Stripping non-digits would turn '128m'
    into 128 BYTES and silently disable the repartition this feeds —
    the unit suffix is load-bearing."""
    s = conf.strip().lower()
    num = s.rstrip("kmgtpb")
    suffix = s[len(num):].rstrip("b")  # '128mb' -> 'm'; '134217728b' -> ''
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    return int(num or "134217728") * mult.get(suffix, 1)


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input scan would yield fewer
    partitions than the cluster's parallelism.

    Why: CPU-heavy narrow operators (xpath projection, shingle hashing,
    mapInPandas decode) pipeline inside the scan stage — if the scan yields
    one partition (small single-row-group parquet files do), the whole
    operator serializes onto one core. At real scale the input already has
    >= cores partitions and this is a no-op: no shuffle is inserted, so the
    100 TB plan is unchanged. The partition count comes from file metadata
    (:func:`_estimated_scan_partitions`), not a ``.rdd`` probe, so calling
    this never plans or executes anything — safe in any order relative to
    :func:`execution_guard`."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est and est < target:
        return df.repartition(target)
    return df
