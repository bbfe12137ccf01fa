"""Incremental near-dup ingestion: dedup a NEW batch against an already-
indexed corpus without ever re-processing the corpus.

This is the shape fuzzy dedup actually takes at 100 TB: the corpus was
deduplicated once and its MinHash band index committed; every subsequent
ingest batch computes signatures ONLY for its own documents, probes the
index for band collisions, verifies the bounded candidate set exactly,
and appends the admitted documents' signatures back to the index. Per
batch the cost is O(batch + collisions) — the corpus contributes a
broadcast-or-shuffle-joinable index of (id, band, band-hash) rows and is
otherwise untouched; re-running corpus-wide dedup per ingest (what
``dedup_minhash_lsh`` over the concatenation would do) is O(corpus) per
batch and is exactly the per-row O(N) rewrite mistake the reference makes
at file level (pet_scraper.py's full-CSV rewrite per upsert), promoted to
corpus level.

Decision rule (deterministic, oracle-checkable): a batch document is a
duplicate iff its exact shingle-Jaccard reaches the threshold against ANY
band-collision candidate that is (a) a corpus document or (b) an
earlier — smaller-id — batch document; ``dup_of`` is the smallest such
id (first-occurrence-wins, the same representative rule as the corpus
dedup family). The batch-internal rule is intentionally non-recursive
(a document is rejected by an earlier near-dup even if that earlier
document was itself rejected): recursion would chain through arbitrary
similarity paths (that is connected-components territory —
``dedup_cluster_components``), while the non-recursive rule is a single
self-join, keeps every decision independent of decision ORDER, and only
ever over-rejects near-dups of near-dups — the conservative direction
for training data.

Verification never materializes corpus shingles wholesale: candidate
corpus ids are semi-joined back against the documents table (at scale:
a pruned point-lookup scan over the bounded candidate set), so the
exact-verify stage is O(candidates), not O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
    jaccard,
    minhash_band_buckets,
    with_shingles,
)


def build_minhash_index(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 32,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bh) band-hash rows for a document set — the persistent
    index payload. ~``bands`` small rows per document: kilobytes/doc, the
    only state the incremental path ever needs from the corpus."""
    return minhash_band_buckets(
        with_shingles(docs, id_col, text_col, n), id_col, k, bands
    )


def incremental_neardup_decisions(
    index: DataFrame,
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-batch-document admit/reject decisions against a committed band
    index: returns (id, dup_of, admitted) for EVERY batch document,
    including signature-less ones (< n tokens → no shingles → no
    candidates → admitted).

    ``index`` holds the corpus's (id, band, bh) rows; ``corpus_docs`` is
    only consulted for the exact-verify text of band-collision candidates
    (semi-join on the candidate id set). Batch-internal duplicates are
    caught by a self-join of the batch's own buckets with the
    smaller-id-wins orientation."""
    batch_sh = with_shingles(batch_docs, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    buckets = minhash_band_buckets(batch_sh, id_col, k, bands)
    return decisions_from_buckets(
        index, corpus_docs, batch_docs, batch_sh, buckets, id_col, text_col,
        n, threshold,
    )


def decisions_from_buckets(
    index: DataFrame,
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    batch_sh: DataFrame,
    buckets: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The decision core with the batch's shingles and band buckets
    supplied by the caller — so a pipeline that ALSO commits the buckets
    to the index (the streaming ingest loop) computes signatures exactly
    once per batch instead of once per consumer."""

    probe = buckets.select(F.col(id_col).alias("bid"), "band", "bh")
    from_corpus = probe.join(
        index.select(F.col(id_col).alias("cid"), "band", "bh"), on=["band", "bh"]
    ).select("bid", "cid")
    from_batch = probe.join(
        buckets.select(F.col(id_col).alias("cid"), "band", "bh"),
        on=["band", "bh"],
    ).filter(F.col("cid") < F.col("bid")).select("bid", "cid")
    cand = from_corpus.unionByName(from_batch).dropDuplicates(["bid", "cid"])
    return _verified_decisions(
        cand, corpus_docs, batch_docs, batch_sh, id_col, text_col, n, threshold
    )


def decisions_from_committed_index(
    index_incl: DataFrame,
    seen_docs: DataFrame,
    batch_docs: DataFrame,
    batch_sh: DataFrame,
    buckets: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Decision core for the APPEND-FIRST ingest loop (trigger fusion):
    the batch's signatures are committed to the index BEFORE
    decisions run, so ``index_incl`` already CONTAINS the batch, and one
    probe join with a single ``cid < bid`` predicate replaces the two
    probe legs (corpus index + batch-internal self-join) plus union of
    :func:`decisions_from_buckets`. The caller passes the batch's own
    committed bucket rows as ``buckets`` (the appended-files delta — the
    data write that committed them IS the materialization, so the
    separate per-trigger bucket localCheckpoint job disappears).

    REQUIRES arrival order == id order (every id committed by an earlier
    trigger is smaller than every id of this batch) — the contract the
    ascending-id document staging provides. Equivalence to the two-leg
    form under that contract: index_incl = index_before ∪ own_buckets;
    probe ⋈ own_buckets [cid < bid] is exactly the old batch-internal
    leg, and probe ⋈ index_before [cid < bid] equals the unfiltered
    corpus leg because every corpus cid is smaller than every bid.

    Replay safety (the cut walk for append-first): a replayed
    trigger — any crash between the signature append and the offset
    commit — re-runs against an index that already holds its OWN
    signatures (possibly twice). ``cid < bid`` makes them inert: self
    pairs (cid = bid) are excluded, duplicate committed rows collapse in
    the candidate ``dropDuplicates``, and ids from later triggers cannot
    exist yet (triggers are sequential; replay restarts at the failed
    one). Decision VALUES are therefore a deterministic function of
    (batch, signatures committed for smaller ids) at EVERY crash point.
    This is strictly stronger than a decisions-before-append ordering,
    which is only self-match-free when the trigger runs exactly once: a
    replay after a committed append re-probes its own signatures through
    the unfiltered corpus leg (cid = bid, Jaccard 1) and can flip its own
    rows to dup_of = bid.
    tests/test_corpus_ops.py::test_incdedup_trigger_replay_idempotent
    pins the replayed-trigger decision values."""
    probe = buckets.select(F.col(id_col).alias("bid"), "band", "bh")
    cand = (
        probe.join(
            index_incl.select(F.col(id_col).alias("cid"), "band", "bh"),
            on=["band", "bh"],
        )
        .filter(F.col("cid") < F.col("bid"))
        .select("bid", "cid")
        .dropDuplicates(["bid", "cid"])
    )
    return _verified_decisions(
        cand, seen_docs, batch_docs, batch_sh, id_col, text_col, n, threshold
    )


def _verified_decisions(
    cand: DataFrame,
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    batch_sh: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Shared exact-verify tail: candidate pairs → per-doc decisions.
    Corpus text is fetched by a semi-join (bounded candidate set), batch
    shingles are already checkpointed. A candidate id can be a batch id
    (the batch-internal leg) — the union covers both sides with one
    frame."""
    cand_corpus_docs = corpus_docs.join(
        cand.select(F.col("cid").alias(id_col)).dropDuplicates([id_col]),
        on=id_col,
        how="leftsemi",
    )
    cand_sh = batch_sh.unionByName(
        with_shingles(cand_corpus_docs, id_col, text_col, n)
    )
    verified = (
        cand.join(
            batch_sh.select(F.col(id_col).alias("bid"), F.col("sh").alias("sh_b")),
            "bid",
        )
        .join(
            cand_sh.select(F.col(id_col).alias("cid"), F.col("sh").alias("sh_c")),
            "cid",
        )
        .filter(jaccard(F.col("sh_b"), F.col("sh_c")) >= threshold)
    )
    dup_of = verified.groupBy("bid").agg(F.min("cid").alias("dup_of"))
    return (
        batch_docs.select(F.col(id_col))
        .join(dup_of.withColumnRenamed("bid", id_col), id_col, "left")
        .select(
            id_col,
            "dup_of",
            F.col("dup_of").isNull().alias("admitted"),
        )
    )
