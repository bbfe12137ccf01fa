"""Corpus-curation ingest operators: they execute the 100 TB ingest loop
end-to-end rather than analyzing a frozen corpus.

* ``dedup_incremental_batch`` — near-dup dedup of a NEW ingest batch
  against a snapshot-committed MinHash band index of the existing corpus:
  O(batch + collisions) per ingest, never O(corpus). Composes the
  snapshot table (atomic index commits, time travel) with the
  dedup family; the per-batch ingest pattern every production pipeline
  (CCNet, RefinedWeb, Dolma) runs instead of corpus-wide re-dedup.
* ``stream_incremental_dedup`` — the same ingest loop as a structured
  stream: 4 ascending-id micro-batches, per-trigger index probe +
  O(batch) ``snapshot_append`` signature commit, with an
  incremental==batch theorem as the oracle (arrival order == id order
  makes per-trigger first-occurrence-wins compose to the global
  smaller-id-wins rule, which the oracle computes as one batch dedup).
* ``snapshot_tombstone_delete`` — merge-on-read row deletes through the
  snapshot table: a right-to-be-forgotten request is one tombstone key
  file + a pointer swap; reads anti-join tombstones out; compaction
  folds them away.
* ``domain_budget_sample`` — EXECUTES a domain mix: admits documents per
  source domain in deterministic hash order until each domain reaches an
  equal-share token budget. ``domain_mix_weights`` (plans/mining.py)
  computes what the mix should be; this operator materializes the actual
  training subset, the step between weights and a packed dataset.

Oracles restate both algorithms in DuckDB over the same parquet —
signatures, budgets and cumulative sums are exact-integer end to end, so
the driver's value-hash comparison is bit-stable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.dedup_incremental import (
    build_minhash_index,
    incremental_neardup_decisions,
)
from petfinder_database_distributor_spark.operators.text import (
    MD5INT_SQL,
    md5int,
    token_count,
)
from petfinder_database_distributor_spark.plans.llm_pipeline import (
    _COS_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
    _load_embeddings,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.sources.snapshot import (
    latest_group,
    latest_version,
    snapshot_append,
    snapshot_commit_group,
    snapshot_commit_group_optimistic,
    snapshot_delete,
    snapshot_merge,
    snapshot_read,
    snapshot_read_group,
    snapshot_write,
)
from petfinder_database_distributor_spark.streaming.incremental import (  # noqa: E501
    SCRATCH_ROOT,
    staged_once,
)

# ---------------------------------------------------------------------------
# dedup_incremental_batch
# ---------------------------------------------------------------------------

def _corpus_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage the corpus's MinHash band index as a snapshot TABLE once per
    sf_dir (_ok marker + source-mtime reuse guard — the same protocol as
    the DPP/streaming stagings). Version 0 of the table is always the
    corpus-only index; admit-merges land as later versions, so reads
    pinned at v0 are deterministic across repeated calls."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    # _i64 suffix: band hashes are the 60-bit md5int fold, not md5 hex
    # strings; the suffix keeps an index staged with string hashes (whose
    # bh column would never collide with these probes) from being reused
    table = f"{SCRATCH_ROOT}/minhash_index_i64/{tag}"

    def build(table: str) -> None:
        shutil.rmtree(table, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull()
        )
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        snapshot_write(spark, table, build_minhash_index(corpus, "doc_id", "text"))

    return staged_once(table, f"{sf_dir.rstrip('/')}/documents.parquet", build)


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hx AS (SELECT doc_id, ({MD5INT_SQL.format(x="u.x")}) % 2147483647 AS h
           FROM sh, unnest(sh.s) u(x)),
    sig AS (SELECT doc_id, r.i AS i,
                   min(((2 * r.i + 1) * h + (17 * r.i + 3)) % 2147483647) AS m
            FROM hx, range(0, 32) r(i) GROUP BY doc_id, r.i),
    bands AS (SELECT doc_id, i // 2 AS band,
                     {MD5INT_SQL.format(x="string_agg(m::VARCHAR, ',' ORDER BY i)")} AS bh
              FROM sig GROUP BY doc_id, i // 2),
    cand AS (SELECT DISTINCT b.doc_id AS bid, o.doc_id AS cid
             FROM bands b JOIN bands o ON b.band = o.band AND b.bh = o.bh
             WHERE b.doc_id % 5 = 0
               AND (o.doc_id % 5 <> 0 OR o.doc_id < b.doc_id)),
    ver AS (SELECT c.bid, c.cid
            FROM cand c JOIN sh x ON x.doc_id = c.bid
                        JOIN sh y ON y.doc_id = c.cid
            WHERE len(list_intersect(x.s, y.s))::DOUBLE
                    / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
                  >= 0.5),
    dec AS (SELECT bid, min(cid) AS dup_of FROM ver GROUP BY bid)
    SELECT b.doc_id, dec.dup_of, dec.dup_of IS NULL AS admitted
    FROM (SELECT doc_id FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 5 = 0) b
    LEFT JOIN dec ON b.doc_id = dec.bid
    """,
    doc="Incremental ingest dedup — the O(batch) ANSWER to corpus-wide "
    "re-dedup: batch documents (doc_id %% 5 = 0, a deterministic ~20%% "
    "ingest slice) compute MinHash(k=32)/LSH(16x2) signatures for "
    "THEMSELVES ONLY and probe the corpus's committed band index "
    "(snapshot table v0, staged once per sf_dir); band collisions are "
    "exact-Jaccard-verified (>=0.5) against a semi-joined candidate "
    "text fetch, batch-internal dups caught by a smaller-id-wins "
    "self-join, and admitted signatures are merged back into the index "
    "as snapshot v1 (one atomic pointer-swap commit per ingest — the "
    "snapshot table's audit-log/time-travel chain). dup_of = min matching "
    "id; decisions are order-independent (non-recursive batch rule, "
    "see operators/dedup_incremental.py). The oracle recomputes all "
    "signatures from scratch — the INDEX is an execution artifact, so "
    "parity also proves index-probe == recompute equivalence.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    table = _corpus_index_table(spark, sf_dir)
    index = snapshot_read(spark, table, version=0)
    decisions = incremental_neardup_decisions(
        index, corpus, batch, "doc_id", "text", threshold=0.5
    )
    if latest_version(table) == 0:
        # One admit-merge per staged index: the admitted batch's band rows
        # join the corpus index as snapshot v1 (idempotent winner rule on
        # (doc_id, band)); dedup reads stay pinned at v0, so repeated
        # calls — driver, bench, tests — return identical decisions.
        admitted = decisions.filter("admitted").select("doc_id")
        batch_bands = build_minhash_index(
            batch.join(admitted, "doc_id", "leftsemi"), "doc_id", "text"
        )
        snapshot_merge(
            spark, table, batch_bands, key_cols=["doc_id", "band"],
            order_cols=["bh"],
        )
    return decisions


# ---------------------------------------------------------------------------
# stream_incremental_dedup
# ---------------------------------------------------------------------------


def _incdedup_trigger(
    table_dir: str, dec_dir: str, all_docs: DataFrame, batch_df: DataFrame
) -> None:
    """One ingest trigger, APPEND-FIRST (trigger fusion): commit the
    batch's band signatures to the index, then probe the committed index
    with ``cid < bid`` for the decisions. The append's data write IS the
    bucket materialization — deciding before the append would pay a
    separate localCheckpoint job for the buckets AND run two probe legs
    (corpus index + batch self-join) whose union the single filtered
    probe replaces; see decisions_from_committed_index for the
    equivalence and the replay-cut walk (append-first is also strictly
    SAFER: a replayed trigger's own committed signatures are inert under
    cid < bid, where an unfiltered corpus leg would self-match them at
    Jaccard 1). Module-level so the replay test can invoke one
    trigger directly."""
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        minhash_band_buckets,
        with_shingles,
    )
    from petfinder_database_distributor_spark.operators.dedup_incremental import (
        decisions_from_committed_index,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_read_since,
    )

    sess = batch_df.sparkSession
    base = latest_version(table_dir)
    # seen-but-not-in-this-batch docs serve candidate text lookups
    lookup = all_docs.join(batch_df.select("doc_id"), "doc_id", "left_anti")
    # ONE signature computation per trigger: the checkpointed shingles
    # feed the band aggregate and both exact-verify legs; the band rows
    # themselves materialize through the index append below.
    batch_sh = with_shingles(batch_df, "doc_id", "text").localCheckpoint(
        eager=True
    )
    # Append-only index commit (a doc's signature never changes):
    # O(batch) file-append + pointer swap, never an index rewrite.
    # Duplicate rows from a replayed trigger are harmless — the candidate
    # probe dedups pairs and cid < bid keeps own signatures inert.
    v = snapshot_append(
        sess, table_dir, minhash_band_buckets(batch_sh, "doc_id")
    )
    buckets = (
        snapshot_read_since(sess, table_dir, base, version=v)
        if base is not None
        else snapshot_read(sess, table_dir, version=v)
    )
    dec = decisions_from_committed_index(
        snapshot_read(sess, table_dir, version=v),
        lookup, batch_df, batch_sh, buckets, "doc_id", "text",
        threshold=0.5,
    )
    dec.write.mode("append").parquet(dec_dir)



@register(
    "stream_incremental_dedup",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hx AS (SELECT doc_id, ({MD5INT_SQL.format(x="u.x")}) % 2147483647 AS h
           FROM sh, unnest(sh.s) u(x)),
    sig AS (SELECT doc_id, r.i AS i,
                   min(((2 * r.i + 1) * h + (17 * r.i + 3)) % 2147483647) AS m
            FROM hx, range(0, 32) r(i) GROUP BY doc_id, r.i),
    bands AS (SELECT doc_id, i // 2 AS band,
                     {MD5INT_SQL.format(x="string_agg(m::VARCHAR, ',' ORDER BY i)")} AS bh
              FROM sig GROUP BY doc_id, i // 2),
    cand AS (SELECT DISTINCT b.doc_id AS bid, o.doc_id AS cid
             FROM bands b JOIN bands o
               ON b.band = o.band AND b.bh = o.bh AND o.doc_id < b.doc_id),
    ver AS (SELECT c.bid, c.cid
            FROM cand c JOIN sh x ON x.doc_id = c.bid
                        JOIN sh y ON y.doc_id = c.cid
            WHERE len(list_intersect(x.s, y.s))::DOUBLE
                    / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
                  >= 0.5),
    dec AS (SELECT bid, min(cid) AS dup_of FROM ver GROUP BY bid)
    SELECT d.doc_id, dec.dup_of, dec.dup_of IS NULL AS admitted
    FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
    LEFT JOIN dec ON d.doc_id = dec.bid
    """,
    doc="Streaming incremental dedup — the full ingest loop as a "
    "structured stream, with an incremental==batch theorem as its "
    "oracle: documents arrive in 4 ascending-id micro-batches; each "
    "trigger computes signatures for ITS batch only, probes the "
    "snapshot-committed band index of everything seen so far, "
    "exact-verifies band collisions, and appends per-doc decisions. "
    "APPEND-FIRST: the batch's signatures commit as the next index "
    "version BEFORE decisions run — an O(batch) manifest-level file "
    "append, never an index rewrite (one atomic pointer swap per "
    "trigger; the version chain IS the micro-batch audit log) — and the "
    "probe joins the committed index with cid < bid, which fuses the "
    "corpus and batch-internal probe legs AND reuses the append's data "
    "write as the bucket materialization (one fewer job per trigger). "
    "Because arrival order is id order, "
    "first-occurrence-wins per trigger composes to the GLOBAL rule "
    "'dup iff a smaller-id near-dup exists' — which is exactly what the "
    "oracle computes as one corpus-wide batch dedup, so parity proves "
    "the stream's incremental state machine equals the batch semantics. "
    "Replay-safe: cid < bid makes a replayed trigger's own committed "
    "signatures inert, so decision values are a deterministic function "
    "of (batch, signatures committed for smaller ids) at every crash "
    "point, and the read-back dedups decision rows.",
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.streaming.incremental import (
        STREAM_SHUFFLE_PARTITIONS,
        read_document_stream,
        scoped_conf,
        stage_document_chunks,
    )

    stage = stage_document_chunks(spark, sf_dir, n_chunks=4)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    run_dir = f"{SCRATCH_ROOT}/run_incdedup_{tag}"
    shutil.rmtree(run_dir, ignore_errors=True)
    table_dir = f"{run_dir}/index"
    dec_dir = f"{run_dir}/decisions"
    all_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        _incdedup_trigger(table_dir, dec_dir, all_docs, batch_df)

    with scoped_conf(
        spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS
    ):
        query = (
            read_document_stream(spark, stage, max_files=1)
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", f"{run_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if not os.path.exists(dec_dir):
        # zero micro-batches (empty staging): no decisions were ever
        # appended — the dedup decision set of nothing is empty
        # (degenerate-input contract)
        return spark.createDataFrame(
            [], "doc_id long, dup_of long, admitted boolean"
        )
    return spark.read.parquet(dec_dir).dropDuplicates(["doc_id"])


# ---------------------------------------------------------------------------
# snapshot_tombstone_delete
# ---------------------------------------------------------------------------

_TOMB_MEMO: set[str] = set()


def _tombstoned_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per sf_dir: v0 = the documents projection committed as a
    snapshot, v1 = a tombstone delete of the right-to-be-forgotten slice
    (doc_id % 7 = 0) that reuses every v0 data file untouched."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    table = f"{SCRATCH_ROOT}/snapshot_tomb/{tag}"
    marker = f"{table}._ok"
    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    if tag in _TOMB_MEMO or (
        os.path.exists(marker)
        and os.path.exists(src)
        and os.stat(marker).st_mtime > os.stat(src).st_mtime
    ):
        _TOMB_MEMO.add(tag)
        return table
    shutil.rmtree(table, ignore_errors=True)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    snapshot_write(spark, table, docs)
    snapshot_delete(
        spark, table, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"),
        key_cols=["doc_id"],
    )
    with open(marker, "w") as fh:
        fh.write("staged")
    _TOMB_MEMO.add(tag)
    return table


@register(
    "snapshot_tombstone_delete",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id IS NOT NULL AND doc_id % 7 <> 0
    """,
    doc="Merge-on-read row deletes — deletion-vector semantics for the "
    "snapshot table (sources/snapshot.py::snapshot_delete): a "
    "right-to-be-forgotten request (doc_id %% 7 = 0) commits as ONE "
    "tombstone key file + a pointer swap, carrying every data file "
    "forward untouched (O(delete keys), never O(table) — at 100 TB a "
    "compliance delete cannot rewrite thousands of immutable files per "
    "request); the read plan anti-joins the accumulated tombstones out, "
    "time travel to v0 still serves the pre-delete rows, and the next "
    "compaction folds tombstones into fresh files. The staged table "
    "commits v0 (full corpus) + v1 (tombstones) once per sf_dir; the "
    "query reads latest. Oracle = the plain filtered table, so parity "
    "proves merge-on-read == eager delete.",
)
def snapshot_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _tombstoned_table(spark, sf_dir)
    return snapshot_read(spark, table)


# ---------------------------------------------------------------------------
# domain_budget_sample
# ---------------------------------------------------------------------------


@register(
    "domain_budget_sample",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(replace(replace(
                   trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                 x -> x <> ''))::BIGINT AS n_tok,
             {MD5INT_SQL.format(x="doc_id::VARCHAR")} AS hkey
      FROM documents WHERE doc_id IS NOT NULL
    ),
    b AS (SELECT (sum(n_tok) // (2 * count(DISTINCT source)))::BIGINT AS budget
          FROM tt),
    c AS (SELECT doc_id, source, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY hkey, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)::BIGINT AS cum_tok
          FROM tt)
    SELECT doc_id, source, n_tok, cum_tok FROM c, b WHERE cum_tok <= budget
    """,
    doc="Domain-mix EXECUTION: cap every source domain at an equal-share "
    "token budget (total_tokens div (2 x n_domains) — binds for "
    "over-represented domains, passes small ones whole) and admit "
    "documents in md5int(doc_id) hash order — a deterministic, seedless "
    "unbiased shuffle, reproducible across engines and runs — keeping "
    "each doc while its domain's running token total fits. One shuffle "
    "(hash-partition by source) + an in-partition window; domains "
    "sample in parallel. The budget scalar is one tiny aggregate "
    "broadcast into the filter. At extreme single-domain scale the "
    "window becomes the two-phase bucket-prefix-sum of "
    "global_shuffle_index — same semantics, documented trade. Exact "
    "int64 token arithmetic end to end; admit order ties broken by "
    "doc_id (hash collisions), so output is total-order deterministic.",
)
def domain_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    tt = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        md5int(F.col("doc_id").cast("string")).alias("hkey"),
    )
    budget = tt.agg(
        F.expr("sum(n_tok) div (2 * count(DISTINCT source))")
        .cast("long")
        .alias("budget")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = tt.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
    return (
        c.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tok") <= F.col("budget"))
        .select("doc_id", "source", "n_tok", "cum_tok")
    )


# ---------------------------------------------------------------------------
# domain_budget_unimax
# ---------------------------------------------------------------------------

# UniMax epoch cap in milli-epochs: 1.15 epochs. Integer throughout —
# cap_tok = n_tok * 1150 div 1000 — so both engines agree bit-for-bit.
_UNIMAX_EPOCH_MILLI = 1150

_UNIMAX_ORACLE = f"""
    WITH tt AS (
      SELECT coalesce(source, '') AS source,
             len(list_filter(string_split_regex(lower(replace(replace(
                   trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                 x -> x <> ''))::BIGINT AS n_tok
      FROM documents WHERE doc_id IS NOT NULL
    ),
    c AS (SELECT source, sum(n_tok)::BIGINT AS c FROM tt GROUP BY 1),
    tot AS (SELECT sum(c)::BIGINT AS b FROM c),
    o AS (SELECT source, c,
                 (c * {_UNIMAX_EPOCH_MILLI}) // 1000 AS cap,
                 row_number() OVER (ORDER BY c, source) AS rk,
                 count(*) OVER () AS n,
                 coalesce(sum((c * {_UNIMAX_EPOCH_MILLI}) // 1000)
                            OVER (ORDER BY c, source
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS caps_before
          FROM c),
    f AS (SELECT o.*, tot.b,
                 (cap * (n - rk + 1) <= b - caps_before) AS cond
          FROM o, tot),
    m AS (SELECT coalesce(min(rk) FILTER (WHERE NOT cond),
                          (SELECT max(n) FROM f) + 1) - 1 AS m FROM f),
    cs AS (SELECT coalesce((SELECT sum(cap) FROM f, m WHERE rk <= m.m),
                           0)::BIGINT AS caps_m)
    SELECT source, c AS n_tok, cap AS cap_tok,
           (CASE WHEN rk <= m.m THEN cap
                 ELSE (b - cs.caps_m) // (n - m.m) END)::BIGINT AS alloc_tok,
           rk <= m.m AS capped,
           (CASE WHEN c > 0
                 THEN (CASE WHEN rk <= m.m THEN cap
                            ELSE (b - cs.caps_m) // (n - m.m) END) * 1000 // c
                 ELSE 0 END)::BIGINT AS epochs_milli
    FROM f, m, cs
"""


@register("domain_budget_unimax", oracle=_UNIMAX_ORACLE)
def domain_budget_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): give every domain its
    fair share of the total token budget, but never more than an epoch
    cap (here 1.15 epochs of its own corpus — milli-epoch integers so
    both engines agree exactly). Waterfilling closed form: sort domains
    ascending by cap; the capped set is a PREFIX (once one domain's cap
    exceeds the even share of the remaining budget, every later — larger
    — domain's does too, because the level is invariant across uncapped
    domains), so m = first rank where cap_i*(domains remaining) exceeds
    the budget left by all-capped-priors, minus one; capped domains get
    their cap, the rest split the remainder evenly (floor division —
    truncate == floor since every operand is non-negative by the prefix
    invariant). Plan shape: one hash agg per-doc -> per-source (bounded
    by |domains|), then windows/aggregates over that REGISTER-TABLE-sized
    frame only — at 100 TB the per-source frame is still ~dozens of rows;
    the corpus-sized work is the single token-count agg. Budget B = total
    corpus tokens (re-mixing, not subsetting: under-represented domains
    repeat up to the cap, over-represented ones are cut to the level)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    # NULL source ≡ '' domain (the compaction_bin_pack contract) — the
    # rank's (c, source) total order must never see a NULL key: Spark
    # sorts NULLS FIRST, DuckDB NULLS LAST, and the waterfill prefix is
    # rank-determined
    c = (
        docs.select(
            F.coalesce(F.col("source"), F.lit("")).alias("source"),
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("c"))
    )
    cap = F.expr(f"c * {_UNIMAX_EPOCH_MILLI} div 1000")
    # every window below runs over the per-SOURCE frame (|domains| rows —
    # a register table, same discipline as the sketch registers)
    o = c.select(
        "source",
        "c",
        cap.alias("cap"),
        F.row_number().over(Window.orderBy("c", "source")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.coalesce(
            F.sum(cap).over(
                Window.orderBy("c", "source").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0).cast("long"),
        ).alias("caps_before"),
        F.sum("c").over(Window.partitionBy()).alias("b"),
    )
    f = o.withColumn(
        "cond", F.col("cap") * (F.col("n") - F.col("rk") + 1) <= F.col("b") - F.col("caps_before")
    )
    m = f.agg(
        (
            F.coalesce(
                F.min(F.when(~F.col("cond"), F.col("rk"))), F.max("n") + 1
            )
            - 1
        ).alias("m")
    )
    withm = f.crossJoin(F.broadcast(m))
    caps_m = withm.agg(
        F.coalesce(
            F.sum(F.when(F.col("rk") <= F.col("m"), F.col("cap"))), F.lit(0)
        )
        .cast("long")
        .alias("caps_m")
    )
    alloc = F.when(F.col("rk") <= F.col("m"), F.col("cap")).otherwise(
        F.expr("(b - caps_m) div (n - m)")
    )
    return (
        withm.crossJoin(F.broadcast(caps_m))
        .select(
            "source",
            F.col("c").alias("n_tok"),
            F.col("cap").alias("cap_tok"),
            alloc.cast("long").alias("alloc_tok"),
            (F.col("rk") <= F.col("m")).alias("capped"),
            F.when(F.col("c") > 0, F.expr("1000") * alloc)
            .otherwise(F.lit(0))
            .alias("_em"),
            "c",
        )
        .select(
            "source",
            "n_tok",
            "cap_tok",
            "alloc_tok",
            "capped",
            F.when(F.col("c") > 0, F.expr("_em div c"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("epochs_milli"),
        )
    )


# ---------------------------------------------------------------------------
# domain_budget_temperature
# ---------------------------------------------------------------------------

# tau=2 (alpha=0.5): weight ∝ sqrt(domain token count). sqrt is the ONE
# non-integer op — IEEE-754 requires it correctly rounded, so JVM and
# DuckDB produce the identical double; floor(sqrt(c) * 1000) then
# quantizes to an integer milli-weight (the multiply is a single
# correctly-rounded op on identical inputs — also bit-identical).
_TEMP_W_SQL = "floor(sqrt(c::DOUBLE) * 1000)::BIGINT"

_TEMP_ORACLE = f"""
    WITH tt AS (
      SELECT coalesce(source, '') AS source,
             len(list_filter(string_split_regex(lower(replace(replace(
                   trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                 x -> x <> ''))::BIGINT AS n_tok
      FROM documents WHERE doc_id IS NOT NULL
    ),
    c AS (SELECT source, sum(n_tok)::BIGINT AS c FROM tt GROUP BY 1),
    w AS (SELECT source, c, {_TEMP_W_SQL} AS w FROM c),
    tot AS (SELECT sum(c)::BIGINT AS b, sum(w)::HUGEINT AS wsum FROM w),
    base AS (
      -- wsum = 0 guard: an all-empty-text corpus gives
      -- every domain weight 0, so the apportionment divisor vanishes —
      -- there is no budget to apportion and the contract is ZERO ROWS
      -- (same degenerate-corpus convention as text_vocab_coverage).
      SELECT w.source, w.c, w.w, tot.b,
             ((tot.b::HUGEINT * w.w) // tot.wsum)::BIGINT AS base_tok,
             ((tot.b::HUGEINT * w.w) % tot.wsum)::HUGEINT AS rem,
             row_number() OVER (
               ORDER BY ((tot.b::HUGEINT * w.w) % tot.wsum) DESC, w.source
             ) AS rrank
      FROM w, tot WHERE tot.wsum > 0),
    short AS (SELECT (max(b) - sum(base_tok))::BIGINT AS leftover FROM base)
    SELECT source, c AS n_tok, w AS weight_milli,
           (base_tok + CASE WHEN rrank <= short.leftover THEN 1 ELSE 0 END)::BIGINT
             AS alloc_tok,
           (rrank <= short.leftover) AS got_bonus
    FROM base, short
"""


@register("domain_budget_temperature", oracle=_TEMP_ORACLE)
def domain_budget_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling budget (tau=2, alpha=0.5 — the
    sqrt-share mixing rule of XLM-R/mT5): each domain's share of the
    token budget B (= total corpus tokens) is proportional to
    sqrt(its corpus size), flattening the head and lifting the tail one
    principled notch less aggressively than UniMax's hard epoch cap.
    Integer-exact end to end: milli-weights w = floor(sqrt(c)*1000)
    (correctly-rounded IEEE sqrt — bit-identical cross-engine), base
    allocation B*w div W in DECIMAL(38,0) (B*w overflows int64 at
    ~100 TB corpus sizes; decimal/HUGEINT products are exact in both
    engines), and the floor shortfall is distributed by LARGEST
    REMAINDER (Hamilton apportionment, remainder-then-source order), so
    sum(alloc_tok) == B exactly — the no-silent-drift property a
    production mixer needs, pinned by test. Plan: one corpus-sized
    token-count agg; every window/aggregate after runs over the
    |domains|-row register frame (the UniMax discipline — see the
    plan-quality allowlist)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    c = (
        docs.select(
            F.coalesce(F.col("source"), F.lit("")).alias("source"),
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("c"))
    )
    # |domains|-row frame whose LINEAGE is the corpus-sized token agg —
    # materialize once (localCheckpoint) or every downstream consumer
    # (tot / ranked / short) re-runs the corpus scan (4 scans observed)
    w = c.select(
        "source",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double")) * 1000).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    tot = w.agg(
        F.sum("c").cast("long").alias("b"),
        F.sum("w").cast("decimal(38,0)").alias("wsum"),
    )
    # |domains|-row frame from here on (register-table class).
    # wsum = 0 guard: an all-empty-text corpus zeroes every
    # milli-weight, so ANSI `bw div wsum` would raise DIVIDE_BY_ZERO —
    # with no weight mass there is no apportionment; contract = 0 rows
    # on BOTH engines (the oracle's base CTE carries the same filter).
    base = (
        w.crossJoin(F.broadcast(tot))
        .filter(F.col("wsum") > F.lit(0))
        .select(
            "source",
            "c",
            "w",
            "b",
            (
                (F.col("b").cast("decimal(38,0)") * F.col("w"))
                .cast("decimal(38,0)")
            ).alias("bw"),
            F.col("wsum"),
        )
        .select(
            "source",
            "c",
            "w",
            "b",
            F.expr("CAST(bw div wsum AS BIGINT)").alias("base_tok"),
            F.expr("CAST(bw % wsum AS DECIMAL(38,0))").alias("rem"),
        )
    )
    ranked = base.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .alias("rrank"),
    )
    short = ranked.agg(
        (F.max("b") - F.sum("base_tok")).cast("long").alias("leftover")
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "source",
            F.col("c").alias("n_tok"),
            F.col("w").alias("weight_milli"),
            (
                F.col("base_tok")
                + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tok"),
            (F.col("rrank") <= F.col("leftover")).alias("got_bonus"),
        )
    )


# ---------------------------------------------------------------------------
# quality_classifier_score
# ---------------------------------------------------------------------------

# Hashed-feature linear classifier (the fastText/CCNet quality-model
# inference shape): feature index = md5int(token) mod D (the hashing
# trick — no vocabulary table to build, broadcast, or look up), weight =
# a fixed integer mix of the index (Knuth multiplicative hash mod a
# prime, centered), logit = mean token weight. The weights here are
# derived, not learned — what the operator demonstrates is the INFERENCE
# plumbing at scale: model application is pure per-row Column expressions
# (zero Python, zero joins, zero shuffles before the final projection),
# which is precisely how a real exported linear model (hashed n-grams ×
# weight array) runs over 100 TB without a feature store. Exact-integer
# end to end until one final division, so the oracle is bit-identical.
_QC_D = 4096  # hashed feature buckets
_QC_A = 2654435761  # Knuth multiplicative constant
_QC_P = 1000003  # weight-mix prime
_QC_C = (_QC_P - 1) // 2  # centering offset -> weights in [-C, C]


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH toks AS ({{toks}}),
    per AS (
      SELECT doc_id, lang, len(t) AS n_toks,
             list_sum(list_transform(t, x ->
               (({MD5INT_SQL.format(x='x')} % {_QC_D}) * {_QC_A})
                 % {_QC_P} - {_QC_C}))::BIGINT AS num
      FROM toks
      WHERE doc_id IS NOT NULL AND len(t) > 0
    )
    SELECT doc_id, lang, n_toks::BIGINT AS n_toks,
           num / ({_QC_P}.0 * n_toks) AS logit,
           num > 0 AS keep
    FROM per
    """.format(toks=_TOKS_SQL),
    doc="Quality-classifier inference over the corpus via the hashing "
    "trick: md5int(token) mod 4096 indexes a deterministic weight table "
    "(Knuth-mix mod prime, centered), the document logit is the mean "
    "token weight, keep = logit > 0. The model application is pure "
    "native Column expressions — no vocabulary broadcast, no feature "
    "store join, no Python in the loop — the shape a real exported "
    "linear quality model (fastText-style hashed n-grams) runs at "
    "100 TB: embarrassingly parallel over the scan, zero shuffles "
    "before the output projection. Integer-exact numerator with ONE "
    "final IEEE division, so both engines produce bit-identical "
    "doubles.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    # inline, the hashed-feature fold tokenized
    # every document 3x/row — once in the aggregate, once in size, and
    # once more inside the pushed-down n_toks > 0 filter. Materialize
    # the token array behind a pushdown barrier: one tokenize per row,
    # the filter reads the computed attribute.
    from petfinder_database_distributor_spark.util import pushdown_barrier

    toked = docs.select(
        "doc_id", "lang", pushdown_barrier(tokens(F.col("text"))).alias("__toks")
    )
    tk = F.col("__toks")
    num = F.aggregate(
        tk,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + ((md5int(x) % _QC_D) * F.lit(_QC_A)) % _QC_P
        - _QC_C,
    )
    scored = (
        toked.select(
            "doc_id",
            "lang",
            F.size(tk).alias("n_toks"),
            num.alias("num"),
        )
        .filter(F.col("n_toks") > 0)
    )
    return scored.select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
        (F.col("num") / (F.lit(float(_QC_P)) * F.col("n_toks"))).alias("logit"),
        (F.col("num") > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Persisted ANN index: build once (snapshot tables), probe every query,
# append maintenance without retrain
# ---------------------------------------------------------------------------

from petfinder_database_distributor_spark.operators.similarity import (  # noqa: E402
    int_dot,
    ivf_pq_encode,
    ivf_pq_probe,
    ivf_pq_train,
    quantize,
)
from petfinder_database_distributor_spark.plans.llm_pipeline import (  # noqa: E402
    _COS_SQL,
    _IVF_COS,
    _IVFPQ_ASSIGN,
    _IVFPQ_UPDATE,
    _PQ_ASSIGN,
    _PQ_UPDATE,
)


def _ann_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Stage the corpus's IVF+PQ index ONCE per sf_dir as three snapshot
    tables under one root (_ok marker + source-mtime reuse guard — the
    same protocol as the MinHash band index staging above):

    - ``centroids`` — 16 integer k-means cell centers (bounded by CONFIG,
      broadcastable at any corpus size),
    - ``codebook``  — 8x16 residual codewords (likewise config-bounded),
    - ``codes``     — one (cell, 8 codes) row per corpus vector, the only
      corpus-sized artifact.

    Version 0 of every table is the corpus-only index; maintenance
    merges (ann_index_append_probe) land as later versions, so reads
    pinned at v0/v1 are deterministic across repeated calls. This is the
    100 TB ANN posture the in-line ladder (ann_ivf_topk .. ann_ivf_pq_topk)
    deliberately lacks: training cost is paid once per corpus build,
    never per query — FAISS's train()/add()/search() lifecycle on a
    table format instead of a binary blob."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    root = f"{SCRATCH_ROOT}/ann_ivfpq_index/{tag}"

    def build(root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        emb = _load_embeddings(spark, sf_dir)
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        centroids, cb, codes = ivf_pq_train(corpus)
        snapshot_write(spark, f"{root}/centroids", centroids)
        snapshot_write(spark, f"{root}/codebook", cb)
        snapshot_write(spark, f"{root}/codes", codes)
        # g0: the three just-trained tables as ONE atomic family version
        # (readers resolving the group can never mix training epochs)
        snapshot_commit_group(
            root,
            {"centroids": 0, "codebook": 0, "codes": 0},
            base_group=None,
            operation="train",
        )

    return staged_once(root, f"{sf_dir.rstrip('/')}/embeddings.parquet", build)


# Shared oracle fragments: train the same integer-exact IVF+PQ structures
# over the corpus subset (vec_id % 5 <> 0) that the staged index holds.
# The oracle RETRAINS from scratch — the index is an execution artifact,
# so parity also proves committed-index-probe == recompute equivalence
# (the same theorem the MinHash index family pins).

# The subset the staged index holds; callers with their OWN corpus slice
# (knn_graph_retrain_recover's trimmed witness) pass a different predicate.
ANN_IDX_CORPUS_PRED = "vec_id % 5 <> 0"


def _ann_idx_train_sql(corpus_pred: str = ANN_IDX_CORPUS_PRED) -> str:
    return f"""
    qa AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x -> round(x * 1000)) AS qe
           FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT * FROM qa WHERE {corpus_pred}),
    c0 AS (SELECT vec_id::INT AS centroid_id, qe AS icvec FROM q WHERE vec_id < 16),
    a1 AS ({_IVFPQ_ASSIGN.format(vecs="q", cents="c0")}),
    c1 AS ({_IVFPQ_UPDATE.format(assigned="a1")}),
    ivf AS ({_IVFPQ_ASSIGN.format(vecs="q", cents="c1")}),
    resid AS (SELECT f.vec_id,
                     list_transform(range(64), i -> f.qe[i + 1] - c.icvec[i + 1]) AS re
              FROM ivf f JOIN c1 c USING (centroid_id)),
    sv AS (SELECT vec_id, r.m, re[r.m*8+1 : r.m*8+8] AS sv
           FROM resid, range(0, 8) r(m)),
    cb0 AS (SELECT m, vec_id::INT AS j, sv AS cw FROM sv WHERE vec_id < 16),
    a0 AS ({_PQ_ASSIGN.format(cb="cb0")}),
    cb1 AS ({_PQ_UPDATE.format(assigned="a0")}),
    codes AS ({_PQ_ASSIGN.format(cb="cb1")})
"""


_ANN_IDX_TRAIN_SQL = _ann_idx_train_sql()


def _ann_idx_probe_sql(ivf: str, codes: str, nprobe: int = 6, rerank: int = 96) -> str:
    """The query-time half in DuckDB: nprobe-cell ranking, per-query
    LUT, ADC over the probed cells of ``ivf``/``codes``, exact top-5
    re-rank — identical shape to operators/similarity.py::ivf_pq_probe.
    Defaults nprobe=6/rerank=96 (vs the in-line composition's 4/64): a
    subset-trained index has coarser cells, and the recall sweep in
    tests/test_ann_recall.py measured 0.875 at 4/64 -> 0.925 at 6/96 —
    probe width is the knob that buys back training-data loss."""
    return f"""
    qq AS (SELECT vec_id AS query_id, qe FROM qa WHERE vec_id < 8),
    probes AS (
      SELECT query_id, centroid_id, ipqc FROM (
        SELECT qq.query_id, c.centroid_id,
               list_inner_product(qq.qe, c.icvec)::BIGINT AS ipqc,
               row_number() OVER (PARTITION BY qq.query_id
                                  ORDER BY {_IVF_COS.format(a="qq.qe", b="c.icvec")} DESC,
                                           c.centroid_id) AS rn
        FROM qq, c1 c) WHERE rn <= {nprobe}),
    qsv AS (SELECT vec_id AS query_id, r.m, qe[r.m*8+1 : r.m*8+8] AS sv
            FROM qa, range(0, 8) r(m) WHERE vec_id < 8),
    lut AS (SELECT qs.query_id, qs.m, c.j,
                   list_inner_product(qs.sv, c.cw)::BIGINT AS ip
            FROM qsv qs JOIN cb1 c ON qs.m = c.m),
    adc AS (SELECT p.query_id, f.vec_id,
                   (max(p.ipqc) + sum(l.ip))::BIGINT AS approx
            FROM probes p
            JOIN {ivf} f USING (centroid_id)
            JOIN {codes} cd ON cd.vec_id = f.vec_id
            JOIN lut l ON l.query_id = p.query_id
                      AND l.m = cd.m AND l.j = cd.j
            WHERE p.query_id <> f.vec_id
            GROUP BY 1, 2),
    cand AS (SELECT query_id, vec_id FROM (
       SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
              ORDER BY approx DESC, vec_id) AS rn FROM adc) WHERE rn <= {rerank}),
    scored AS (SELECT cand.query_id, cand.vec_id,
                      {_COS_SQL.format(a="eq.embedding", b="ec.embedding")} AS cos
               FROM cand JOIN embeddings eq ON eq.vec_id = cand.query_id
                         JOIN embeddings ec ON ec.vec_id = cand.vec_id)
    SELECT query_id, vec_id, rank, round(cos, 6) AS cos_r
    FROM (SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """


@register(
    "ann_index_probe_topk",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    {_ann_idx_probe_sql(ivf="ivf", codes="codes")}
    """,
    doc="ANN serving against a PERSISTED IVF+PQ index — the 100 TB "
    "posture the in-line ann_* ladder lacks: centroids, codebook and "
    "codes are snapshot TABLES staged once per corpus "
    "(operators/similarity.py::ivf_pq_train committed via "
    "snapshot_write, v0-pinned reads), and the query path is "
    "ivf_pq_probe ALONE — nprobe cell ranking against 16 broadcast "
    "centroid rows, one per-query LUT from 128 broadcast codebook "
    "rows, ADC over the probed cells' codes, exact top-5 re-rank. "
    "ZERO Lloyd iterations in the plan (pinned: no ExistingRDD "
    "checkpoint scans, tests/test_plan_quality.py). The oracle "
    "retrains the identical integer-exact structures from scratch, so "
    "parity also proves committed-probe == recompute. FAISS "
    "train()/search() lifecycle on a table format.",
)
def ann_index_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    cb = snapshot_read(spark, f"{root}/codebook", version=0)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_pq_probe(
        queries, centroids, cb, codes, corpus, k=5, nprobe=6, rerank=96
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    qq AS (SELECT vec_id AS query_id, qe FROM qa WHERE vec_id < 8),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT qq.query_id, c.centroid_id,
               row_number() OVER (PARTITION BY qq.query_id
                                  ORDER BY {_IVF_COS.format(a="qq.qe", b="c.icvec")} DESC,
                                           c.centroid_id) AS rn
        FROM qq, c1 c) WHERE rn <= 6),
    cand AS (SELECT p.query_id, f.vec_id
             FROM probes p JOIN ivf f USING (centroid_id)
             WHERE p.query_id <> f.vec_id),
    scored AS (SELECT cand.query_id, cand.vec_id,
                      {_COS_SQL.format(a="eq.embedding", b="ec.embedding")} AS cos
               FROM cand JOIN embeddings eq ON eq.vec_id = cand.query_id
                         JOIN embeddings ec ON ec.vec_id = cand.vec_id)
    SELECT query_id, vec_id, rank, round(cos, 6) AS cos_r
    FROM (SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="IVF-FLAT ANN top-5 against the PERSISTED index — it reads the "
    "committed tables instead of retraining in-line (a second retraining "
    "witness would be redundant; ann_ivf_pq_topk is the sole retraining "
    "witness): the query path is ivf_flat_probe ALONE — rank "
    "the 16 committed centroids (snapshot v0), keep nprobe=6 cells, pull "
    "their members from the committed codes table's inverted-file column, "
    "score members EXACTLY on raw embeddings. Zero Lloyd iterations in "
    "the plan (same ExistingRDD-free pin as ann_index_probe_topk). This "
    "is the accuracy end of the committed-index ladder: full-vector "
    "cosine inside probed cells, vs ivf_pq_probe's bytes-bound ADC. "
    "Oracle retrains the identical integer-exact structures from "
    "scratch, so parity proves committed-probe == recompute.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.similarity import (
        ivf_flat_probe,
    )

    emb = _load_embeddings(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_flat_probe(queries, centroids, codes, corpus, k=5, nprobe=6)


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    {_ann_idx_probe_sql(ivf="ivf", codes="codes", nprobe=16, rerank=64)}
    """,
    doc="Exhaustive PQ-ADC ANN top-5 against the PERSISTED index — the "
    "codebook is trained once into the committed tables, not in-line per "
    "query: the query path is ivf_pq_probe with nprobe=16 (EVERY cell "
    "probed, so no IVF pruning — pure asymmetric-distance computation "
    "over the committed residual codes, rerank=64 exact re-rank). This is "
    "the memory-bound end of the committed-index ladder: a 100 TB corpus "
    "ADC-scans from ~4 bytes/vector (8x16 residual codes) and touches "
    "full embeddings only for rerank survivors, while training cost "
    "lives in the once-per-corpus ivf_pq_train staging (snapshot v0 "
    "reads, zero Lloyd iterations in the plan). Oracle retrains from "
    "scratch, proving committed-ADC == recompute.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    cb = snapshot_read(spark, f"{root}/codebook", version=0)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_pq_probe(
        queries, centroids, cb, codes, corpus, k=5, nprobe=16, rerank=64
    )


def _arrivals_appended(spark: SparkSession, emb: DataFrame, root: str) -> str:
    """Ensure the held-out arrival slice's codes are committed as v1 of
    the codes table (one maintenance commit per staged index: O(batch)
    new files + a pointer swap, never a table rewrite — arrival keys are
    disjoint from the committed corpus by construction, so append IS the
    merge). Reads pinned at v1 stay identical across repeated calls —
    driver, bench, tests. Returns the codes table path."""
    codes_table = f"{root}/codes"
    if latest_version(codes_table) == 0:
        centroids = snapshot_read(spark, f"{root}/centroids", version=0)
        cb = snapshot_read(spark, f"{root}/codebook", version=0)
        arrivals = emb.filter(F.col("vec_id") % 5 == 0)
        snapshot_append(spark, codes_table, ivf_pq_encode(arrivals, centroids, cb))
    if latest_group(root) is None:
        # root staged before group pointers existed: upgrade in place
        snapshot_commit_group(
            root,
            {"centroids": 0, "codebook": 0, "codes": 0},
            base_group=None,
            operation="train",
        )
    if latest_group(root) == 0:
        # g1: append maintenance bumps ONLY the codes member — the group
        # manifest records the mixed-version triple explicitly, so a
        # group reader still gets a mutually consistent family
        snapshot_commit_group(
            root,
            {"centroids": 0, "codebook": 0, "codes": 1},
            base_group=0,
            operation="append",
        )
    return codes_table


def ann_index_retrain(
    spark: SparkSession, root: str, corpus: DataFrame, n_clusters: int = 16
) -> dict:
    """The scheduled-retrain half of the index lifecycle (FAISS re-train
    when add()-ed vectors degrade the index): retrain centroids/codebook/
    codes over the CURRENT corpus with ivf_pq_train and commit each as
    the next snapshot version of its table (operation='retrain').
    Readers stay pinned to the version triple they resolved at query
    start — time travel makes the swap invisible mid-query, and the
    next probe resolves the fresh triple. A consistent triple is the
    dict THIS call returns, NOT an equal-version read: append
    maintenance bumps only the codes table, so after one append + one
    retrain the consistent state is centroids v1 / codebook v1 /
    codes v2 (codes leads by the number of append commits — the
    recovery test asserts exactly this shape). Reading codes rows
    against a mismatched centroids/codebook version decodes residuals
    against the wrong cell centers — meaningless ADC scores with no
    error raised. tests/test_ann_retrain.py pins that a probe's
    recall RECOVERS on a drifted corpus after this runs.

    ``n_clusters`` is the SemDeDup escape hatch: when semdedup_decisions
    refuses on its Sum(|cell|^2) pair budget, retraining with more cells
    restores the bound (cell size ~ corpus/n_clusters, so the quadratic
    shrinks as 1/n_clusters) — the guard's named fix, executable."""
    centroids, cb, codes = ivf_pq_train(corpus, n_clusters=n_clusters)
    out = {}
    for name, df in (("centroids", centroids), ("codebook", cb), ("codes", codes)):
        tdir = f"{root}/{name}"
        out[name] = snapshot_write(
            spark,
            tdir,
            df,
            base_version=latest_version(tdir),
            extra_manifest={"operation": "retrain"},
        )
    # the three table commits above are invisible to group readers until
    # this single atomic swap — the multi-table transaction that makes
    # "a consistent triple" a RESOLVABLE thing rather than a convention
    # (snapshot_commit_group docstring has the failure mode). Optimistic:
    # a concurrent append's group commit (codes bump) between this
    # retrain's base read and its swap costs one retry that folds the
    # winner's members under this retrain's fresh triple.
    snapshot_commit_group_optimistic(
        root, lambda base, mem: {**mem, **out}, operation="retrain"
    )
    return out


# drift gate: appended vectors whose mean cell-residual energy exceeds
# 1.5x the trained corpus's signal that the committed centroids no longer
# describe the data — the retrain-when-exceeded threshold in ppm
RETRAIN_DRIFT_PPM = 1_500_000


@register(
    "ann_index_retrain_check",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    arr AS (SELECT * FROM qa WHERE vec_id % 5 = 0),
    aivf AS ({_IVFPQ_ASSIGN.format(vecs="arr", cents="c1")}),
    allv AS (SELECT vec_id, qe, centroid_id, FALSE AS is_appended FROM ivf
             UNION ALL
             SELECT vec_id, qe, centroid_id, TRUE AS is_appended FROM aivf),
    en AS (SELECT is_appended, list_inner_product(re, re)::BIGINT AS energy
           FROM (SELECT v.is_appended,
                        list_transform(range(64),
                                       i -> v.qe[i+1] - c.icvec[i+1]) AS re
                 FROM allv v JOIN c1 c USING (centroid_id))),
    m AS (SELECT
            count(*) FILTER (WHERE NOT is_appended)::BIGINT AS n_trained,
            (sum(energy) FILTER (WHERE NOT is_appended)
             // count(*) FILTER (WHERE NOT is_appended))::BIGINT
              AS mean_energy_trained,
            count(*) FILTER (WHERE is_appended)::BIGINT AS n_appended,
            (sum(energy) FILTER (WHERE is_appended)
             // count(*) FILTER (WHERE is_appended))::BIGINT
              AS mean_energy_appended
          FROM en)
    SELECT n_trained, mean_energy_trained, n_appended, mean_energy_appended,
           (mean_energy_appended * 1000000 // mean_energy_trained)::BIGINT
             AS drift_ppm,
           (mean_energy_appended * 1000000 // mean_energy_trained)
             > {RETRAIN_DRIFT_PPM} AS retrain_needed
    FROM m
    """,
    doc="The retrain TRIGGER that completes the index lifecycle (train/"
    "add/search are the other stages; this decides WHEN appends have degraded "
    "the index): mean residual energy — exact integer "
    "||qe - icvec||^2 against each vector's committed cell — of the "
    "APPENDED slice vs the TRAINED corpus's, as a fixed-point ppm "
    "ratio. Appends drawn from the trained distribution score ~1.0x "
    "(this corpus: retrain_needed = false); drifted appends land in "
    "far cells with bloated residuals and trip the 1.5x gate, at which "
    "point ann_index_retrain commits fresh centroids/codebook/codes as "
    "the next snapshot versions (readers stay version-pinned "
    "throughout; recall recovery on a drifted corpus is pinned in "
    "tests/test_ann_retrain.py). All floor-division integer math, so "
    "the metric is bit-identical cross-engine. The oracle retrains and "
    "re-assigns from scratch, proving committed-index drift == "
    "recomputed drift.",
)
def ann_index_retrain_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    codes = snapshot_read(spark, _arrivals_appended(spark, emb, root), version=1)
    qe_tbl = emb.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    resid = F.zip_with("qe", "icvec", lambda x, c: x - c)
    rows = (
        codes.select("vec_id", "centroid_id")
        .join(qe_tbl, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            (F.col("vec_id") % 5 == 0).alias("is_appended"),
            int_dot(resid, resid).alias("energy"),
        )
    )
    agg = rows.agg(
        F.count(F.when(~F.col("is_appended"), F.lit(1))).alias("n_tr"),
        F.sum(F.when(~F.col("is_appended"), F.col("energy"))).alias("e_tr"),
        F.count(F.when(F.col("is_appended"), F.lit(1))).alias("n_app"),
        F.sum(F.when(F.col("is_appended"), F.col("energy"))).alias("e_app"),
    )
    return agg.select(
        F.col("n_tr").alias("n_trained"),
        F.expr("e_tr div n_tr").alias("mean_energy_trained"),
        F.col("n_app").alias("n_appended"),
        F.expr("e_app div n_app").alias("mean_energy_appended"),
        F.expr("((e_app div n_app) * 1000000) div (e_tr div n_tr)").alias(
            "drift_ppm"
        ),
        (
            F.expr("((e_app div n_app) * 1000000) div (e_tr div n_tr)")
            > RETRAIN_DRIFT_PPM
        ).alias("retrain_needed"),
    )


# The grown-index probe oracle (committed v0 structures + re-encoded
# arrivals, probed over the union) — shared verbatim by
# ann_index_append_probe (version-pinned reads) and ann_index_group_probe
# (group-pointer reads): identical math, different consistency mechanism.
_ANN_GROWN_PROBE_SQL = f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    arr AS (SELECT * FROM qa WHERE vec_id % 5 = 0),
    aivf AS ({_IVFPQ_ASSIGN.format(vecs="arr", cents="c1")}),
    aresid AS (SELECT f.vec_id,
                      list_transform(range(64), i -> f.qe[i + 1] - c.icvec[i + 1]) AS re
               FROM aivf f JOIN c1 c USING (centroid_id)),
    asv AS (SELECT vec_id, r.m, re[r.m*8+1 : r.m*8+8] AS sv
            FROM aresid, range(0, 8) r(m)),
    acodes AS (SELECT vec_id, m, sv, j FROM (
      SELECT s.vec_id, s.m, s.sv, c.j,
             row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
               list_inner_product(s.sv, s.sv)
                 - 2 * list_inner_product(s.sv, c.cw)
                 + list_inner_product(c.cw, c.cw), c.j) AS rn
      FROM asv s JOIN cb1 c ON s.m = c.m) WHERE rn = 1),
    all_ivf AS (SELECT vec_id, qe, centroid_id FROM ivf
                UNION ALL SELECT vec_id, qe, centroid_id FROM aivf),
    all_codes AS (SELECT vec_id, m, sv, j FROM codes
                  UNION ALL SELECT vec_id, m, sv, j FROM acodes),
    {_ann_idx_probe_sql(ivf="all_ivf", codes="all_codes")}
    """


@register(
    "ann_index_append_probe",
    oracle=_ANN_GROWN_PROBE_SQL,
    doc="ANN index MAINTENANCE without retrain — FAISS add() as a table "
    "commit: the held-out arrival slice (vec_id % 5 = 0) is assigned to "
    "its nearest COMMITTED centroid and residual-encoded with the "
    "COMMITTED codebook (operators/similarity.py::ivf_pq_encode — zero "
    "Lloyd iterations), and its codes rows land as snapshot v1 via an "
    "O(batch) snapshot_append (one atomic pointer swap, no table "
    "rewrite — arrival keys are disjoint; centroids/codebook "
    "stay immutable until a scheduled retrain). The probe then serves "
    "top-5 over the GROWN index (v1-pinned read, so repeated calls are "
    "deterministic). At 100 TB this is the difference between an index "
    "and a scan: arrivals cost O(batch) encode + one commit, queries "
    "never pay training. Oracle retrains + re-encodes from scratch, "
    "proving append-maintained == recomputed.",
)
def ann_index_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    cb = snapshot_read(spark, f"{root}/codebook", version=0)
    codes = snapshot_read(spark, _arrivals_appended(spark, emb, root), version=1)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_pq_probe(
        queries, centroids, cb, codes, emb, k=5, nprobe=6, rerank=96
    )


@register(
    "ann_index_group_probe",
    oracle=_ANN_GROWN_PROBE_SQL,
    doc="ANN serving through the ATOMIC GROUP pointer — the multi-table "
    "transaction that makes 'a consistent triple' resolvable instead of "
    "conventional: centroids/codebook/codes versions are read from ONE "
    "group manifest (g1 = the post-append family: centroids v0 / "
    "codebook v0 / codes v1), so a reader can never mix training epochs "
    "even while a retrain's three table commits are landing — they stay "
    "invisible until the single group swap "
    "(sources/snapshot.py::snapshot_commit_group; Iceberg's "
    "catalog-level atomic swap over a table family). Result-identical "
    "to ann_index_append_probe by construction — same committed "
    "structures, different consistency mechanism — and the shared "
    "oracle retrains from scratch, proving group-resolved probe == "
    "recompute. tests/test_snapshot_table.py pins the group protocol "
    "(member validation, conflict on racing group commits); "
    "tests/test_ann_retrain.py pins that retrain advances the family "
    "to g2 = {centroids 1, codebook 1, codes 2} atomically.",
)
def ann_index_group_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    root = _ann_index_root(spark, sf_dir)
    _arrivals_appended(spark, emb, root)  # ensures codes v1 + groups g0, g1
    centroids = snapshot_read_group(spark, root, "centroids", group=1)
    cb = snapshot_read_group(spark, root, "codebook", group=1)
    codes = snapshot_read_group(spark, root, "codes", group=1)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_pq_probe(
        queries, centroids, cb, codes, emb, k=5, nprobe=6, rerank=96
    )


# SemDeDup cosine threshold: within-cell pairs at/above it collapse to
# the lowest-id representative (testdata within-cell cosine p99 ~ 0.33,
# max ~ 0.47 — the corpus has no true near-dups, so the gate sits where
# it measurably prunes; a real embedding space runs this at ~0.95+)
_SEMDEDUP_TAU = 0.30


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb
              FROM ivf a JOIN ivf b ON a.centroid_id = b.centroid_id
                                   AND a.vec_id < b.vec_id
                   JOIN embeddings ea ON ea.vec_id = a.vec_id
                   JOIN embeddings eb ON eb.vec_id = b.vec_id
              WHERE {_COS_SQL.format(a="ea.embedding", b="eb.embedding")}
                      >= {_SEMDEDUP_TAU}),
    dec AS (SELECT idb, min(ida) AS dup_of FROM pairs GROUP BY idb)
    SELECT f.vec_id, f.centroid_id::INT AS cell, dec.dup_of,
           dec.dup_of IS NULL AS keep
    FROM ivf f LEFT JOIN dec ON f.vec_id = dec.idb
    """,
    doc="SemDeDup (Abbas et al. 2023) — SEMANTIC dedup as the third "
    "candidate-generation strategy beside MinHash-LSH (lexical) and "
    "SRP-LSH (embedding buckets): pairwise cosine is computed only "
    "WITHIN the committed IVF index's cells (codes table v0 membership "
    "— zero extra training, the k-means the paper runs is already "
    "paid), so candidate volume is bounded by cell size, never "
    "corpus^2; any member with cosine >= tau to a smaller-id cell peer "
    "collapses to the lowest such peer (keep-one-representative, "
    "deterministic). At 100 TB the knob is n_clusters: finer cells "
    "bound the per-cell quadratic exactly like the paper's 50k-cluster "
    "config. Oracle retrains the cell assignment from scratch and "
    "re-derives the decisions, proving committed-cell SemDeDup == "
    "recompute.",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    root = _ann_index_root(spark, sf_dir)
    members = (
        snapshot_read(spark, f"{root}/codes", version=0)
        .select("vec_id", "centroid_id")
        .join(emb, "vec_id")
    )
    return semdedup_decisions(members)


# ---------------------------------------------------------------------------
# knn_graph_cells
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_graph_oracle(corpus_pred: str | None = None) -> str:
    """The recompute ground truth over the index corpus; ``corpus_pred``
    overrides the trained slice (knn_graph_retrain_recover's trimmed
    witness corpus — the refusal argument is scale-free, so the witness
    proves the identical lifecycle on a quarter of the data)."""
    from petfinder_database_distributor_spark.operators.similarity import (
        NONZERO_VEC_SQL,
    )

    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    nz_pred = NONZERO_VEC_SQL.format(v="embedding")
    train = (
        _ann_idx_train_sql(corpus_pred) if corpus_pred else _ann_idx_train_sql()
    )
    return f"""
    WITH {train},
    nz AS (SELECT vec_id FROM embeddings WHERE {nz_pred}),
    pairs AS (SELECT a.vec_id, b.vec_id AS nbr_id
              FROM ivf a JOIN ivf b USING (centroid_id)
              WHERE a.vec_id <> b.vec_id
                AND a.vec_id IN (SELECT vec_id FROM nz)
                AND b.vec_id IN (SELECT vec_id FROM nz)),
    scored AS (SELECT p.vec_id, p.nbr_id, {cos} AS cos
               FROM pairs p
               JOIN embeddings ea ON ea.vec_id = p.vec_id
               JOIN embeddings eb ON eb.vec_id = p.nbr_id)
    SELECT vec_id, nbr_id, rank, round(cos, 6) AS cos_r
    FROM (SELECT vec_id, nbr_id, cos,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, nbr_id) AS rank
          FROM scored)
    WHERE rank <= {_KNN_K}
    """


@register("knn_graph_cells", oracle=_knn_graph_oracle())
def knn_graph_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH over every corpus vector via the committed IVF cells —
    the curation-graph shape (graph-based filtering, cluster-quality
    audits, SemDeDup-style analyses) that the fixed-8-query ann_* serving
    family can't provide: EVERY vector is a query, candidates are its own
    committed cell's members (the SemDeDup candidate discipline turned
    into a reusable artifact), scores are exact cosine on the raw
    embeddings, and each vector keeps its top-3 neighbors through a
    hash-partitioned per-vector window. Reuses the staged snapshot index
    (v0 reads, zero Lloyd iterations in the plan) and
    semdedup_decisions' Sum(|cell|^2) pair budget guard — a corpus that
    outgrew its cell count REFUSES with the executable fix named
    (ann_index_retrain with more cells) instead of launching a quadratic
    shuffle. The oracle retrains the identical integer-exact structures
    from scratch, so parity also proves committed-cells == recompute.
    Scale: within-cell self-join is Sum(|cell|^2) ~ n^2/n_clusters —
    bounded by the same guard+retrain loop SemDeDup uses; vectors in
    singleton cells have no in-cell neighbors and are absent, as in
    FAISS's IVF-restricted search."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    root = _ann_index_root(spark, sf_dir)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    members = codes.select("vec_id", "centroid_id").join(emb, "vec_id")
    return knn_graph_decisions(members)


def knn_graph_decisions(
    members: DataFrame, k: int = _KNN_K, pair_budget: int = 10_000_000
) -> DataFrame:
    """The graph core over an assigned membership frame (vec_id,
    centroid_id, embedding) — split out of the query (the
    semdedup_decisions discipline) so the guard -> retrain(n_clusters up)
    -> rerun recovery loop is an executable, tested path
    (tests/test_corpus_ops.py::test_knn_guard_retrain_recovery), not just
    a message. Sum(|cell|^2) refusal guard: one bounded n_clusters-row
    agg; past the budget the within-cell self-join is refused with the
    fix named rather than launched."""
    from petfinder_database_distributor_spark.operators.similarity import (
        as_double,
        cosine,
    )

    # Zero-norm contract — see operators/similarity.py::nonzero_vectors
    # (ANSI divide-by-zero on dirty rows; the family-wide guard)
    from petfinder_database_distributor_spark.operators.similarity import (
        nonzero_vectors,
    )

    members = nonzero_vectors(members)
    pairs_est = sum(
        r["n"] * r["n"]
        for r in members.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if pairs_est > pair_budget:
        raise ValueError(
            f"knn_graph_cells: within-cell pair volume ~{pairs_est:,} exceeds "
            f"the {pair_budget:,} budget — retrain the index with more cells "
            "(ann_index_retrain(n_clusters=...)) so cell sizes shrink"
        )
    a = members.select(
        F.col("vec_id"), "centroid_id", as_double(F.col("embedding")).alias("va")
    )
    b = members.select(
        F.col("vec_id").alias("nbr_id"),
        "centroid_id",
        as_double(F.col("embedding")).alias("vb"),
    )
    scored = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id", cosine(F.col("va"), F.col("vb")).alias("cos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "nbr_id", "rank", F.round("cos", 6).alias("cos_r"))
    )


# The recovery witness's OWN corpus slice (the witness
# was the single most expensive registered query; the pigeonhole refusal
# argument is scale-free, so a quarter-sized slice proves the identical
# lifecycle at a quarter of the quadratic cost). vec_id < 16 stays dense
# so the 16-cell retrain sees the same seed set the oracle recomputes.
KNN_RECOVER_PRED_SQL = "vec_id % 5 <> 0 AND (vec_id < 16 OR vec_id % 4 = 1)"


@register(
    "knn_graph_retrain_recover", oracle=_knn_graph_oracle(KNN_RECOVER_PRED_SQL)
)
def knn_graph_retrain_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-lifecycle recovery loop as a REGISTERED, driver-facing
    query: build a deliberately under-provisioned IVF
    index (4 cells), let knn_graph_decisions' Sum(|cell|^2) pair-budget
    guard REFUSE it, run the guard's named fix — ann_index_retrain with
    the oracle's 16 cells committed as an atomic group version — and
    rerun to the full k-NN graph. The refusal is DETERMINISTIC at every
    scale, not a data-dependent branch: by Cauchy-Schwarz
    Sum(|cell|^2) >= n^2/4 on any <=4-cell assignment, and the budget is
    n^2/5 < n^2/4; after the 16-cell retrain the balanced assignment
    sits near n^2/16, well under budget (the scale probes pin the
    margin). n_clusters is PINNED to the oracle's 16 (a
    doubling loop silently diverged from the fixed 16-cell oracle
    recompute past ~12.6k vectors) — a corpus whose balanced 16-cell
    estimate n^2/16 still exceeds the budget is OUTSIDE this witness's
    envelope and REFUSES up front with the fix named (more cells via
    ann_index_retrain — the production path, just not this oracle's),
    and a residual post-retrain refusal (pathological concentration)
    re-raises with the recovery context instead of a bare guard error.
    The witness corpus is a quarter-slice (KNN_RECOVER_PRED_SQL): the
    pigeonhole argument is scale-free, so the trimmed slice proves the
    identical guard -> retrain -> rerun lifecycle at a quarter of the
    quadratic cost. The oracle is the SAME recompute
    ground truth as knn_graph_cells over the same slice, so hash parity
    proves the recovered index converges to the well-provisioned answer
    — the SemDeDup/kNN guard's escape hatch (more cells => smaller cells
    => bounded pairs) exercised end-to-end against the oracle, beside the
    local tests (test_corpus_ops.py::test_knn_guard_retrain_recovery,
    test_ann_retrain.py)."""
    from petfinder_database_distributor_spark.operators.similarity import (
        _assign_int,
        _update_int,
    )

    emb = _load_embeddings(spark, sf_dir)
    # quarter-slice witness corpus — MUST stay textually in sync with
    # KNN_RECOVER_PRED_SQL (the oracle trains over the same slice)
    corpus = emb.filter(
        (F.col("vec_id") % 5 != 0)
        & ((F.col("vec_id") < 16) | (F.col("vec_id") % 4 == 1))
    )
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    root = f"{SCRATCH_ROOT}/knn_recover/{tag}"
    shutil.rmtree(root, ignore_errors=True)  # deterministic per call

    # Under-provisioned initial index: 4 cells, IVF-FLAT only — the
    # refusal depends solely on CELL MEMBERSHIP, so training a PQ
    # codebook for an index built to be refused would be pure waste
    # (measured: the full coarse ivf_pq_train cost ~half the query).
    # Same integer Lloyd kernel as ivf_pq_train's IVF half (seed = 4
    # smallest ids, one update round, final assign).
    qcorpus = corpus.select(
        F.col("vec_id"), quantize(F.col("embedding"), 1000).alias("qe")
    ).localCheckpoint(eager=True)
    seeds = qcorpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("qe").alias("icvec"),
    )
    cents4 = _update_int(
        _assign_int(qcorpus, seeds, "vec_id"), "vec_id"
    ).localCheckpoint(eager=True)
    codes4 = _assign_int(qcorpus, cents4, "vec_id").select(
        "vec_id", "centroid_id"
    )
    snapshot_write(spark, f"{root}/centroids", cents4)
    snapshot_write(spark, f"{root}/codes", codes4)
    snapshot_commit_group(
        root,
        {"centroids": 0, "codes": 0},
        base_group=None,
        operation="train",
    )
    n = corpus.count()
    # Budget: n^2/5 keeps the coarse refusal DETERMINISTIC at every scale
    # (pigeonhole: any 4-cell assignment has Sum(|cell|^2) >= n^2/4 >
    # min(n^2/5, cap)), while the 10M absolute cap is the SAME quadratic
    # ceiling knn_graph_cells refuses at — without it this query would
    # RUN the pair join that the rest of the family refuses (measured:
    # 28x wall at 8x data before the cap).
    budget = min((n * n) // 5, 10_000_000)

    def graph(version: int) -> DataFrame:
        members = (
            snapshot_read(spark, f"{root}/codes", version=version)
            .select("vec_id", "centroid_id")
            .join(emb, "vec_id")
        )
        return knn_graph_decisions(members, k=_KNN_K, pair_budget=budget)

    try:
        return graph(version=0)
    except ValueError:
        # the guard's named fix, executed: retrain with the ORACLE's
        # cell count (16 — pinned: a doubling loop here
        # silently diverged from the fixed 16-cell oracle recompute on
        # corpora past ~12.6k vectors), committed as the next atomic
        # group version, then rerun. A corpus whose BALANCED 16-cell
        # pair estimate already exceeds the budget cannot be recovered
        # inside this witness's oracle envelope — refuse up front with
        # the production fix named rather than diverge from the oracle.
        n_clusters = 16
        if (n * n) // n_clusters > budget:
            raise ValueError(
                f"knn_graph_retrain_recover: balanced {n_clusters}-cell "
                f"pair estimate ~{(n * n) // n_clusters:,} exceeds the "
                f"{budget:,} budget — this corpus is outside the "
                "16-cell recovery witness's envelope; retrain with more "
                "cells (ann_index_retrain(n_clusters=...)) in production"
            )
        ann_index_retrain(spark, root, corpus, n_clusters=n_clusters)
        try:
            return graph(version=1)
        except ValueError as exc:
            # pathological post-retrain concentration (>~3.2x balanced):
            # surface the RECOVERY context, not a bare guard message
            raise ValueError(
                "knn_graph_retrain_recover: the 16-cell retrain was "
                "committed but the rerun still exceeds the pair budget "
                f"(cell concentration past the balanced estimate): {exc}"
            ) from exc


def semdedup_decisions(
    members: DataFrame, pair_budget: int = 10_000_000
) -> DataFrame:
    """SemDeDup keep/collapse decisions over an assigned membership frame
    (vec_id, centroid_id, embedding) — split out of the registered query
    so the guard -> retrain(n_clusters up) -> rerun recovery loop is an
    executable, tested path (tests/test_ann_retrain.py::
    test_semdedup_guard_retrain_recovery), not just a message.

    Sum(|cell|^2) guard — the dedup_ngram_jaccard_baseline discipline:
    within-cell pairwise volume is quadratic in cell size, and cell
    size is corpus/n_clusters, so a corpus that outgrew its index's
    cluster count must REFUSE with the fix named (re-train with more
    cells — the SemDeDup paper's 50k-cluster config) instead of
    launching a quadratic shuffle. One bounded n_clusters-row agg.
    10M pairs ~ 100 s of 64-dim cosines on local[32] — past that the
    right answer is more cells, not a longer shuffle."""
    from petfinder_database_distributor_spark.operators.similarity import (
        as_double,
        cosine,
    )

    pairs_est = sum(
        r["n"] * r["n"]
        for r in members.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if pairs_est > pair_budget:
        raise ValueError(
            f"semdedup within-cell pair volume ~{pairs_est:,} exceeds the "
            f"{pair_budget:,} budget: the corpus has outgrown the index's "
            "n_clusters — retrain with more cells (ann_index_retrain with "
            "a larger n_clusters) so cell size stays bounded"
        )
    a = members.select(
        F.col("vec_id").alias("ida"),
        "centroid_id",
        as_double(F.col("embedding")).alias("va"),
    )
    b = members.select(
        F.col("vec_id").alias("idb"),
        "centroid_id",
        as_double(F.col("embedding")).alias("vb"),
    )
    hits = (
        a.join(b, "centroid_id")  # cell-bounded equi-join, never corpus^2
        .filter(F.col("ida") < F.col("idb"))
        .filter(cosine(F.col("va"), F.col("vb")) >= _SEMDEDUP_TAU)
        .groupBy("idb")
        .agg(F.min("ida").alias("dup_of"))
    )
    return (
        members.select("vec_id", F.col("centroid_id").cast("int").alias("cell"))
        .join(hits, members.vec_id == hits.idb, "left")
        .select(
            "vec_id", "cell", "dup_of", F.col("dup_of").isNull().alias("keep")
        )
    )


@register(
    "stream_ann_index_append",
    oracle=f"""
    WITH {_ANN_IDX_TRAIN_SQL},
    arr AS (SELECT * FROM qa WHERE vec_id % 5 = 0),
    aivf AS ({_IVFPQ_ASSIGN.format(vecs="arr", cents="c1")}),
    aresid AS (SELECT f.vec_id,
                      list_transform(range(64), i -> f.qe[i + 1] - c.icvec[i + 1]) AS re
               FROM aivf f JOIN c1 c USING (centroid_id)),
    asv AS (SELECT vec_id, r.m, re[r.m*8+1 : r.m*8+8] AS sv
            FROM aresid, range(0, 8) r(m)),
    acodes AS (SELECT vec_id, m, sv, j FROM (
      SELECT s.vec_id, s.m, s.sv, c.j,
             row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
               list_inner_product(s.sv, s.sv)
                 - 2 * list_inner_product(s.sv, c.cw)
                 + list_inner_product(c.cw, c.cw), c.j) AS rn
      FROM asv s JOIN cb1 c ON s.m = c.m) WHERE rn = 1),
    all_ivf AS (SELECT vec_id, centroid_id FROM ivf
                UNION ALL SELECT vec_id, centroid_id FROM aivf),
    all_codes AS (SELECT vec_id, m, j FROM codes
                  UNION ALL SELECT vec_id, m, j FROM acodes)
    SELECT ac.vec_id, ai.centroid_id,
           sum(ac.j)::BIGINT AS code_sum,
           sum((ac.m + 1) * ac.j)::BIGINT AS code_crc
    FROM all_codes ac JOIN all_ivf ai USING (vec_id)
    GROUP BY 1, 2
    """,
    doc="ANN index maintenance as a LIVE ingest stream — the streaming "
    "twin of ann_index_append_probe, completing the train()/add()/"
    "search() lifecycle the way stream_incremental_dedup completes the "
    "minhash family's: arrival vectors (the held-out vec_id % 5 = 0 "
    "slice, staged as 4 ascending-id micro-batches) are encoded "
    "per-trigger against the COMMITTED v0 centroids/codebook "
    "(ivf_pq_encode — zero Lloyd iterations, O(batch) work) and their "
    "codes rows land as one atomic O(batch) snapshot_append per trigger on "
    "a zero-copy SHALLOW CLONE of the codes table (the source index "
    "never observes the run). Incremental == batch is trivial here — "
    "encoding is per-vector — so the pinned theorem is the pipeline "
    "one: the trigger-by-trigger-maintained table equals a from-scratch "
    "DuckDB retrain + re-encode, row for row (codes emitted as exact "
    "integer sum/checksum columns). At 100 TB: arrivals cost O(batch) "
    "encode + one metadata commit per trigger; queries keep probing "
    "committed versions mid-ingest.",
)
def stream_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_clone,
    )
    from petfinder_database_distributor_spark.streaming.incremental import (
        STREAM_SHUFFLE_PARTITIONS,
        read_embedding_stream,
        scoped_conf,
        stage_embedding_chunks,
    )

    root = _ann_index_root(spark, sf_dir)
    centroids = snapshot_read(spark, f"{root}/centroids", version=0)
    cb = snapshot_read(spark, f"{root}/codebook", version=0)
    # same char set as _ann_index_root's tag (incl. '-'): two sf_dirs
    # must never collide on a run_dir while getting distinct index roots
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    run_dir = f"{SCRATCH_ROOT}/run_annstream_{tag}"
    shutil.rmtree(run_dir, ignore_errors=True)  # deterministic per call
    codes_clone = f"{run_dir}/codes"
    snapshot_clone(f"{root}/codes", codes_clone, version=0)
    stage = stage_embedding_chunks(spark, sf_dir, n_chunks=4)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # same entry contract as _load_embeddings: NULL ids/vectors AND
        # zero-norm vectors are excluded (dirty-data contract — the
        # arriving stream is exactly where dirty rows show up first)
        batch = batch_df.filter(
            F.col("vec_id").isNotNull()
            & F.col("embedding").isNotNull()
            & F.exists(F.col("embedding"), lambda x: x != 0)
        )
        enc = ivf_pq_encode(batch, centroids, cb)
        # snapshot_append, not merge: each trigger's keys are disjoint
        # (ascending-id chunks over the disjoint arrival slice), so the
        # commit is O(batch) new files + a pointer swap — a per-trigger
        # table rewrite would be the O(corpus)-per-append mistake the
        # append docstring calls out. This bounded run re-executes from
        # a fresh run_dir on any failure (rmtree above); an unbounded
        # production stream gets replay idempotence from the
        # DataSource's writer-identity txn map instead (T3).
        snapshot_append(batch_df.sparkSession, codes_clone, enc)

    with scoped_conf(
        spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS
    ):
        q = (
            read_embedding_stream(spark, stage, max_files=1)
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", f"{run_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    codes = snapshot_read(spark, codes_clone)
    return codes.select(
        "vec_id",
        "centroid_id",
        F.expr("aggregate(code, 0L, (a, j) -> a + j)").alias("code_sum"),
        F.expr(
            "aggregate(zip_with(code, sequence(1, size(code)), (j, m) -> j * m),"
            " 0L, (a, x) -> a + x)"
        ).alias("code_crc"),
    )


# ---------------------------------------------------------------------------
# text_paragraph_dedup
# ---------------------------------------------------------------------------

_PD_KEEP_MILLI = 300  # keep docs whose duplicate-line share is < 30%


def _paragraph_oracle() -> str:
    h = MD5INT_SQL.format(x="ln")
    return f"""
    WITH lines AS (
      SELECT doc_id, u.i - 1 AS line_idx, trim(d.ls[u.i]) AS ln
      FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
            FROM documents WHERE doc_id IS NOT NULL) d,
           unnest(range(1, len(d.ls) + 1)) u(i)
      WHERE trim(d.ls[u.i]) <> ''),
    ranked AS (
      SELECT doc_id, line_idx,
             row_number() OVER (PARTITION BY {h}
                                ORDER BY doc_id, line_idx) AS occ
      FROM lines),
    per_doc AS (
      SELECT doc_id, count(*) AS n_lines,
             sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM ranked GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(p.n_lines, 0)::BIGINT AS n_lines,
           coalesce(p.n_dup, 0)::BIGINT AS n_dup_lines,
           CASE WHEN coalesce(p.n_lines, 0) > 0
                THEN (p.n_dup * 1000 // p.n_lines) ELSE 0 END::BIGINT
             AS dup_ratio_milli,
           (CASE WHEN coalesce(p.n_lines, 0) > 0
                 THEN (p.n_dup * 1000 // p.n_lines) ELSE 0 END
            < {_PD_KEEP_MILLI}) AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
    LEFT JOIN per_doc p USING (doc_id)
    """


@register("text_paragraph_dedup", oracle=_paragraph_oracle())
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide EXACT line-level deduplication — the C4/RefinedWeb
    exact-dedup unit (Raffel et al. 2020 dedup three-sentence spans;
    Penedo et al. 2023 dedup at document+line granularity): every
    non-empty trimmed line is hashed (portable 60-bit md5int), the FIRST
    occurrence corpus-wide (ordered by doc_id, then line index — a total
    deterministic order) is the keeper, and every later occurrence marks
    its document. Output is the per-document audit row: non-empty line
    count, already-seen-line count, the duplicate share in milli, and
    the keep verdict (< 30% duplicated lines) — zero-line documents
    survive with n_lines = 0 and keep = true (nothing to hold against
    them). Plan shape: ONE posexplode of the corpus's lines, ONE
    hash-PARTITIONED window (partition = line hash, so first-occurrence
    ranking shuffles on the dedup key exactly once and no partition
    exceeds a line's global frequency), one per-doc hash re-agg, and a
    left join back to the doc spine. At 100 TB that is the canonical
    exact-dedup shape: shuffle on content hash, rank, re-agg — no
    all-pairs anything; boilerplate lines (the hot hashes) skew their
    partitions at worst linearly in their frequency."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1))
            .alias("line_idx", "raw"),
        )
        .select("doc_id", "line_idx", F.trim(F.col("raw")).alias("ln"))
        .filter(F.col("ln") != "")
    )
    w = Window.partitionBy(md5int(F.col("ln"))).orderBy("doc_id", "line_idx")
    ranked = lines.select(
        "doc_id", F.row_number().over(w).alias("occ")
    )
    per_doc = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).alias("n_dup"),
    )
    ratio = F.when(
        F.coalesce(F.col("n_lines"), F.lit(0)) > 0,
        F.expr("n_dup * 1000 div n_lines"),
    ).otherwise(F.lit(0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_lines"),
            ratio.cast("long").alias("dup_ratio_milli"),
            (ratio < _PD_KEEP_MILLI).alias("keep"),
        )
    )
