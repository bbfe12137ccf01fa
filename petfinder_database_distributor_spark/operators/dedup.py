"""Key-dedup / upsert / compaction operators (SURVEY.md §2.4, D1–D3 + F4).

Scale notes (100 TB posture):
- ``key_dedup`` is one hash-shuffle on the key; AQE skew-join/partition
  coalescing handles imbalance. Never ``dropDuplicates`` without an explicit
  winner order — at N partitions the survivor would be nondeterministic.
- ``anti_join_new_keys`` broadcasts only when the key side is bounded;
  callers pass ``broadcast_existing=True`` for small dimension sides.
- ``upsert_merge`` is the MERGE plan-shape: one full-outer shuffle join on
  the key, per-column coalesce. On a table format with MERGE (Delta/Iceberg)
  the same shape becomes a metadata-pruned merge; here we express it as a
  pure DataFrame op so it runs anywhere.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def key_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence = (),
) -> DataFrame:
    """D1 — keep exactly one row per key, deterministically: the first row
    under ``order_cols`` (e.g. ingest sequence). Reference semantics: the
    in-memory link set skips later duplicates, i.e. first-writer-wins
    (server.py:194-207)."""
    if not order_cols:
        order_cols = [F.lit(1)]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_new_keys(
    new: DataFrame,
    existing: DataFrame,
    key_cols: Sequence[str],
    broadcast_existing: bool = False,
) -> DataFrame:
    """F4 — rows of ``new`` whose key is absent from ``existing``. The
    reference checks membership BEFORE the expensive fetch (server.py:200-203,
    optimization O1) — callers must place this upstream of fetch UDFs; Catalyst
    will not reorder around an opaque Python UDF."""
    keys = existing.select(*key_cols).dropDuplicates(list(key_cols))
    if broadcast_existing:
        keys = F.broadcast(keys)
    return new.join(keys, on=list(key_cols), how="left_anti")


def upsert_merge(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    value_cols: Iterable[str],
) -> DataFrame:
    """D2 — column-preserving MERGE by key (the heart of the distributor).

    Reference semantics (pet_scraper.py:421-466): a matching key overwrites
    only the columns present (non-null) in the new record and preserves the
    old value for absent columns (:444-446); unmatched new keys append;
    unmatched old rows pass through. One full-outer shuffle join; both sides
    must already be key-unique (apply :func:`key_dedup` first)."""
    value_cols = list(value_cols)
    o = old.alias("o")
    n = new.alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
    joined = o.join(n, on=cond, how="full_outer")
    out_cols = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in key_cols
    ] + [
        F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c) for c in value_cols
    ]
    return joined.select(*out_cols)


def compaction_delete(
    table: DataFrame,
    invalid_keys: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """D3 — anti-delete: remove rows whose key appears in ``invalid_keys``
    (the verification epoch's GC of dead rows, server.py:226-315)."""
    return table.join(
        invalid_keys.select(*key_cols).dropDuplicates(list(key_cols)),
        on=list(key_cols),
        how="left_anti",
    )


def merge_into_partitioned(
    spark,
    table_dir: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    partition_col: str,
) -> None:
    """D2 at 100 TB: partition-scoped upsert via dynamic partition overwrite.

    The reference rewrites the WHOLE table per upsert (pet_scraper.py:421-488,
    O(table) each time). Here only partitions that contain updated keys are
    read, merged and replaced:

    1. project the distinct ``partition_col`` values of the batch (bounded by
       batch size, collected driver-side only to build a pruning predicate);
    2. scan the table WITH partition pruning on those values;
    3. union + content-ordered winner per key (same idempotent rule as the
       streaming sink);
    4. write back with ``partitionOverwriteMode=dynamic`` — untouched
       partitions are never read or written.

    The partition column must be a stable function of the key (e.g. a hash
    bucket or an event date) so a key's rows can never straddle partitions.
    """
    import os

    affected = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # Explicit existence probe, NOT try/except around the read: a transient
    # read failure (corrupt footer, permissions, flaky FS) must propagate —
    # treating it as "first write" would dynamic-overwrite the affected
    # partitions with the bare update batch and silently drop previously
    # merged rows. (On object storage this becomes an FS listing call.)
    import glob

    # "exists" means data files, not just the directory: an earlier write
    # of an EMPTY batch leaves the dir (with _SUCCESS) but zero part
    # files, and reading it raises UNABLE_TO_INFER_SCHEMA — a
    # zero-partition table is the first-write case (degenerate-input
    # contract; caught by the empty-fixture sweep).
    if os.path.isdir(table_dir) and glob.glob(
        f"{table_dir}/{partition_col}=*/*.parquet"
    ):
        existing = spark.read.parquet(table_dir).filter(
            F.col(partition_col).isin(affected)
        )
        merged = existing.unionByName(updates)
    else:  # first write: table does not exist yet (or holds no data)
        merged = updates
    winner = key_dedup(merged, key_cols, [F.col(c).desc() for c in order_cols])
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        winner.write.mode("overwrite").partitionBy(partition_col).parquet(table_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
