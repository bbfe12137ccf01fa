"""Data-mining / layout queries for the LLM-data layer: integer-exact
k-means clustering, fixed-iteration PageRank, domain mixing weights, and
Z-order (Morton) layout statistics.

Like the sketch family, every operator here is constructed integer-exact
(portable floor division, no float accumulation), so the iterative
algorithms — normally excluded from cross-engine value checks — are
hash-compared against DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from petfinder_database_distributor_spark.operators.clustering import (
    kmeans_int8,
    pagerank_integer,
)
from petfinder_database_distributor_spark.operators.text import token_count, tokens
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.util import ensure_parallelism

# ---------------------------------------------------------------------------
# cluster_kmeans_int8
# ---------------------------------------------------------------------------

# The oracle restates the exact algorithm: int8 quantization (the proven
# embedding_quantize_int8 kernel), k=8 seeds = smallest vec_ids, two
# rounds of assign (min dist, ties -> min cluster) + floor-mean update,
# then the final assignment. Integer arithmetic throughout: dist is
# BIGINT squared-L2, centroid update is the portable pymod floor
# division, so both engines produce identical (vec_id, cluster, dist).
_KMEANS_QUANT = """
q AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(e, x -> floor(x / scale + 0.5)::BIGINT)
              ELSE list_transform(e, x -> 0::BIGINT) END AS q
  FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
              WHERE vec_id IS NOT NULL AND embedding IS NOT NULL))
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, q AS c
  FROM q ORDER BY vec_id LIMIT 8
)
"""


def _kmeans_round(i: int, prev_c: str) -> str:
    """One oracle round: assignment aN against prev_c, centroid update cN."""
    return f"""
a{i} AS (
  SELECT vec_id, q, cluster, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
  FROM (SELECT q.vec_id, q.q, {prev_c}.cluster,
               list_sum([(q.q[i] - {prev_c}.c[i]) * (q.q[i] - {prev_c}.c[i])
                         for i in range(1, 65)])::BIGINT AS dist
        FROM q, {prev_c})
),
c{i} AS (
  SELECT cluster, list(v ORDER BY pos) AS c FROM (
    SELECT cluster, pos, (s - (((s % n) + n) % n)) // n AS v FROM (
      SELECT cluster, r.range AS pos,
             sum(q[r.range])::BIGINT AS s, count(*)::BIGINT AS n
      FROM a{i}, range(1, 65) r WHERE rn = 1
      GROUP BY cluster, r.range))
  GROUP BY cluster
)"""


_KMEANS_ORACLE = (
    "WITH "
    + _KMEANS_QUANT.strip()
    + ","
    + _kmeans_round(1, "c0")
    + ","
    + _kmeans_round(2, "c1")
    + ""","""
    + """
af AS (
  SELECT vec_id, cluster, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
  FROM (SELECT q.vec_id, c2.cluster,
               list_sum([(q.q[i] - c2.c[i]) * (q.q[i] - c2.c[i])
                         for i in range(1, 65)])::BIGINT AS dist
        FROM q, c2)
)
SELECT vec_id, cluster::INT AS cluster, dist FROM af WHERE rn = 1
"""
)


@register(
    "cluster_kmeans_int8",
    oracle=_KMEANS_ORACLE,
    doc="Fixed-iteration Lloyd's k-means (k=8, 2 rounds) over int8-"
    "quantized embeddings — the topic-clustering step a data-mixing "
    "pipeline runs before sampling. Integer-exact: quantized vectors, "
    "BIGINT squared-L2 distances, floor-mean centroid updates, so an "
    "iterative float algorithm becomes bit-identical cross-engine. Scale "
    "shape: assignment is a pure projection (k x dim literal centroids "
    "in the expression tree — vectors never ride a join), the quantized "
    "working set is persisted across the training passes (the measured "
    "dominant cost before caching; MLlib's own iterative shape) and freed "
    "before the assignment frame is returned, the only shuffle per "
    "round is the bounded (k x dim)-key update agg, and driver state is "
    "k centroid rows per round (bounded-scalar class). An Arrow int64 "
    "matmul kernel twin exists for the large-k regime — bit-identical, "
    "test-pinned; at k=8 the JVM expression form ties it.",
)
def cluster_kmeans_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return kmeans_int8(emb, k=8, iters=2)


# ---------------------------------------------------------------------------
# pagerank_partsupp
# ---------------------------------------------------------------------------

_PAGERANK_SCALE = 10**12
_PR_INIT = f"({_PAGERANK_SCALE} // n_nodes)"
_PR_BASE = f"((15 * ({_PAGERANK_SCALE} // n_nodes)) // 100)"


def _pr_round(i: int, prev: str) -> str:
    return f"""
i{i} AS (
  SELECT e.dst AS node, sum({prev}.rank // od.outdeg)::BIGINT AS inc
  FROM e JOIN od USING (src) JOIN {prev} ON {prev}.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT nodes.node,
         {_PR_BASE} + ((85 * coalesce(i{i}.inc, 0)) // 100) AS rank
  FROM nodes LEFT JOIN i{i} ON nodes.node = i{i}.node, ns
)"""


_PAGERANK_ORACLE = (
    """
WITH e AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
ns AS (SELECT count(*)::BIGINT AS n_nodes FROM nodes),
od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, """
    + _PR_INIT
    + """ AS rank FROM nodes, ns),"""
    + _pr_round(1, "r0")
    + ","
    + _pr_round(2, "r1")
    + ","
    + _pr_round(3, "r2")
    + """
SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20
"""
)


@register(
    "pagerank_partsupp",
    oracle=_PAGERANK_ORACLE,
    doc="Fixed 3-iteration PageRank over the distinct part->supplier edge "
    "graph from lineitem (nodes namespaced 2p / 2s+1) — the link-analysis "
    "primitive a crawl-curation pipeline uses to weight domains. Ranks "
    "are integers in units of 1e-12 and every contribution is an integer "
    "division, so the iterative computation hash-matches DuckDB exactly. "
    "No driver collect; edges/nodes/outdeg are localCheckpoint-"
    "materialized once at call time (three bounded jobs — the "
    "components-loop lineage discipline) so rounds never re-run the "
    "upstream scan+distinct; "
    "each round is one edges-outdeg-ranks join plus one groupBy(dst) "
    "shuffle — the O(iters)-round bulk-synchronous shape that survives "
    "100 TB. "
    "Dangling (supplier) mass is dropped: a deterministic contraction, "
    "not a normalized distribution — stated contract. Top-20 via "
    "TakeOrderedAndProject with (rank DESC, node) tie-break.",
)
def pagerank_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    return pagerank_integer(edges, iters=3, scale=_PAGERANK_SCALE, top=20)


# ---------------------------------------------------------------------------
# domain_mix_weights
# ---------------------------------------------------------------------------


@register(
    "domain_mix_weights",
    oracle="""
    WITH per AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(coalesce(len(list_filter(
                   string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                   x -> x <> '')), 0))::BIGINT AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tokens)::BIGINT AS total FROM per),
    capped AS (SELECT source, n_docs, n_tokens,
                      least(n_tokens, total // 4) AS eff FROM per, tot),
    etk AS (SELECT eff_total, greatest(0, length(bin(eff_total)) - 40) AS k
            FROM (SELECT sum(eff)::BIGINT AS eff_total FROM capped))
    SELECT source, n_docs, n_tokens,
           ((eff >> k) * 1000000) // greatest(eff_total >> k, 1) AS weight_ppm
    FROM capped, etk
    """,
    doc="Per-domain sampling weights for training-mix construction: token "
    "counts per source (NULL texts count 0 — an all-NULL domain gets "
    "weight 0, not the cap), any single domain capped at 25% of the "
    "corpus, weights renormalized over the capped mass as integer "
    "parts-per-million. The ppm divide pre-shifts both operands by "
    "k = max(0, bit_length(eff_total) - 40) — identical bit math in "
    "both engines (bin()/conv() length), k=0 below ~10^12 tokens so "
    "small-scale results are exact, and at 100 TB the multiply stays "
    "inside int64 instead of raising ARITHMETIC_OVERFLOW. One narrow "
    "token-count projection + a tiny per-domain agg; the two scalar "
    "totals ride broadcast cross-joins (1-row frames), so the 100 TB "
    "cost is the single documents scan.",
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(token_count(F.col("text")), F.lit(0)))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    capped = per.crossJoin(F.broadcast(tot)).withColumn(
        "eff", F.expr("least(n_tokens, total div 4)")
    )
    etk = (
        capped.agg(F.sum("eff").alias("eff_total"))
        .withColumn(
            "k",
            F.expr(
                "greatest(0, length(conv(cast(eff_total AS string), 10, 2)) - 40)"
            ),
        )
    )
    return capped.crossJoin(F.broadcast(etk)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            "(shiftright(eff, k) * 1000000) div greatest(shiftright(eff_total, k), 1)"
        ).alias("weight_ppm"),
    )


# ---------------------------------------------------------------------------
# bpe_first_merges
# ---------------------------------------------------------------------------


def _bpe_oracle() -> str:
    # Tokenization comes from the shared _TOKS_SQL fragment (one place
    # per engine — a whitespace-semantics fix there must reach this
    # oracle too).
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    w AS (SELECT u.w FROM toks, unnest(toks.t) u(w)),
    pairs AS (
      SELECT p.pair FROM w,
        unnest([substr(w.w, i, 2) for i in range(1, length(w.w))]) p(pair)
      WHERE length(w.w) >= 2)
    SELECT pair, count(*)::BIGINT AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 30
    """


@register(
    "bpe_first_merges",
    oracle=_bpe_oracle(),
    doc="BPE vocabulary training, step 1: count adjacent character pairs "
    "over every word occurrence (the merge-candidate statistics a "
    "byte-pair tokenizer trains from) and emit the top-30 merges with a "
    "deterministic (count DESC, pair ASC) tie-break. Pairs come straight "
    "from substring(w, i, 2) over a sequence — no char-array explode — "
    "so the whole pass is one narrow projection + one hash agg + "
    "TakeOrderedAndProject; at 100 TB the pair-count shuffle is bounded "
    "by alphabet², not corpus size.",
)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    w = docs.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# scd2_user_history
# ---------------------------------------------------------------------------


@register(
    "scd2_user_history",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           event_type AS state,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD-type-2 history construction — the warehousing primitive that "
    "turns an event stream into validity intervals: per user, each event "
    "opens a state valid from its timestamp until the next event "
    "(valid_to NULL + is_current on the open row). One window over the "
    "user partition with a deterministic (ts, event_id) tie-break; at "
    "scale this is a single shuffle by the dimension key and the sort "
    "rides the shuffle (SortWithinPartitions), which is exactly how a "
    "100 TB dimension-history build runs. Timestamps emitted as "
    "epoch_us BIGINTs (the repo's TZ-safe convention).",
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # NULL user/ts rows are excluded by contract: a NULL ts would sort
    # NULLS FIRST in Spark but NULLS LAST in DuckDB (silent parity break)
    # and would mislabel its predecessor's is_current in both engines.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        F.col("event_type").alias("state"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# dedup_ngram_containment
# ---------------------------------------------------------------------------


def _containment_oracle() -> str:
    # The posting/cap/join block is the shared _CAPPED_INTER_SQL — only
    # the scoring expression differs from the capped Jaccard oracle.
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _CAPPED_INTER_SQL,
    )

    return f"""
    {_CAPPED_INTER_SQL}
    SELECT id_a, id_b,
           inter::DOUBLE / least(sz_a, sz_b) AS containment
    FROM inter WHERE inter::DOUBLE / least(sz_a, sz_b) >= 0.8
    """


@register(
    "dedup_ngram_containment",
    oracle=_containment_oracle(),
    doc="Asymmetric containment near-dup pairs: |A∩B| / min(|A|,|B|) over "
    "word-3-gram shingles — the doc-inside-doc / benchmark-contamination "
    "measure Jaccard dilutes (a paragraph quoted inside a long page "
    "scores near-0 Jaccard but 1.0 containment). Same df-capped "
    "inverted-index machinery as dedup_ngram_jaccard_capped (one code "
    "path, a metric switch), so the Σdf² posture and its scale evidence "
    "carry over unchanged.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, df_cap=64, metric="containment"
    )


# ---------------------------------------------------------------------------
# events_funnel
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' AND user_id IS NOT NULL
                GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3, min(s2.t2) AS t2
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           GROUP BY e.user_id)
    SELECT 'view' AS stage, count(*)::BIGINT AS users,
           '0' AS total_lag_us FROM s1
    UNION ALL
    SELECT 'click_after_view', count(*)::BIGINT,
           coalesce(sum((epoch_us(t2) - epoch_us(t1))::DECIMAL(38,0)),
                    0)::VARCHAR FROM s2
    UNION ALL
    SELECT 'purchase_after_click', count(*)::BIGINT,
           coalesce(sum((epoch_us(t3) - epoch_us(t2))::DECIMAL(38,0)),
                    0)::VARCHAR FROM s3
    """,
    doc="Ordered funnel analysis (view -> click-after-view -> purchase-"
    "after-click): per stage, the users who reached it via a STRICTLY "
    "later event than their previous stage, plus the exact total "
    "conversion lag in microseconds. NULL-user events are excluded up "
    "front (they could never appear past stage 1, so counting them in "
    "stage 1 would skew every conversion-rate read); the lag accumulates "
    "in DECIMAL(38,0) — the registry's float/overflow discipline — "
    "because an int64 of microseconds wraps at ~10^8 users x 1-day lag, "
    "exactly the claimed scale. The lag is EMITTED as its exact digit "
    "string (like ref_scalar_suite's checksum): DuckDB hands scale-0 "
    "DECIMAL(38,0) to pandas as float64, so a raw decimal column "
    "canonicalizes as '...0.0' vs Spark's Decimal '...0' and the "
    "driver's value hash diverges on representation, not value. "
    "Three cascaded aggregations all keyed on "
    "user_id, so at scale every stage reuses the same hash partitioning "
    "(one logical shuffle key, no windows over the corpus); earliest-"
    "qualifying-event semantics via min() keeps it deterministic under "
    "event-time ties.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )
    lag = lambda a, b: F.coalesce(  # noqa: E731 — exact decimal lag sum
        F.sum(
            (F.unix_micros(F.col(a)) - F.unix_micros(F.col(b))).cast("decimal(38,0)")
        ),
        F.lit(0),
    ).cast("decimal(38,0)").cast("string")
    r1 = s1.agg(
        F.count(F.lit(1)).alias("users"),
    ).select(
        F.lit("view").alias("stage"),
        "users",
        F.lit("0").alias("total_lag_us"),
    )
    r2 = s2.agg(F.count(F.lit(1)).alias("users"), lag("t2", "t1").alias("total_lag_us")).select(
        F.lit("click_after_view").alias("stage"), "users", "total_lag_us"
    )
    r3 = s3.agg(F.count(F.lit(1)).alias("users"), lag("t3", "t2").alias("total_lag_us")).select(
        F.lit("purchase_after_click").alias("stage"), "users", "total_lag_us"
    )
    return r1.unionAll(r2).unionAll(r3)


# ---------------------------------------------------------------------------
# text_commonness_score
# ---------------------------------------------------------------------------


@register(
    "text_commonness_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, u.tok FROM (
        SELECT doc_id,
               list_distinct(list_filter(
                 string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                 x -> x <> '')) AS toks
        FROM documents), unnest(toks) u(tok)),
    d AS (SELECT tok, count(*)::BIGINT AS df FROM t GROUP BY tok),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    per AS (SELECT doc_id, count(*)::BIGINT AS n_tok, sum(d.df)::BIGINT AS sum_df
            FROM t JOIN d USING (tok) GROUP BY doc_id)
    SELECT doc_id, n_tok, sum_df,
           ((sum_df // n_tok) * 1000000
            + ((sum_df % n_tok) * 1000000) // n_tok) // n_docs AS commonness_ppm
    FROM per, n
    """,
    doc="Corpus-frequency quality score (the CCNet-style 'does this doc "
    "use normal vocabulary' pre-filter): per-doc mean document-frequency "
    "of its distinct tokens, emitted as exact integer ppm of the corpus "
    "size — low commonness flags gibberish/boilerplate-coded docs, high "
    "flags boilerplate. Two linear shuffles (token df agg, per-doc "
    "re-agg); the token join is stopword-skewed by nature, which is "
    "exactly what AQE skew-join splitting absorbs at scale "
    "(tests/test_plan_quality.py::test_aqe_splits_skewed_join_partitions "
    "pins that lever).",
)
def text_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import distinct_tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Checkpoint the exploded token set: it feeds BOTH sides of the df join
    # (build: token->df agg; probe: per-doc re-agg) and Catalyst does not
    # CSE a self-referencing subtree across a join, so without the cache
    # the interpreted-HOF tokenization runs twice over the full corpus —
    # the same working-set shape as k-means' persisted quantization.
    toks = docs.select(
        "doc_id", F.explode(distinct_tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=True)
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    per = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.sum("df").alias("sum_df"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    # floor(sum_df·1e6 / (n_tok·n_docs)) decomposed via the nested-floor
    # identity so no intermediate exceeds int64: (sum_df % n_tok)·1e6 is
    # bounded by tokens-per-doc·1e6 and (sum_df div n_tok) by n_docs —
    # safe to ~9e12 docs, vs the naive sum_df·1e6 which ANSI-aborts at
    # large corpus scale.
    return per.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_tok",
        "sum_df",
        F.expr(
            "((sum_df div n_tok) * 1000000"
            " + ((sum_df % n_tok) * 1000000) div n_tok) div n_docs"
        ).alias("commonness_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_canonical_quality
# ---------------------------------------------------------------------------


def _canonical_oracle() -> str:
    # Reuse the minhash-pairs, tokenization, and quality fragments from
    # the sibling plans — each formula lives in one place per engine.
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _MINHASH_SQL,
        _QUALITY_EXPR_SQL,
        _QUALITY_M_SQL,
        _TOKS_SQL,
    )

    return f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(v, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    ),
    comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
    toks AS ({_TOKS_SQL}),
    m AS ({_QUALITY_M_SQL}),
    q AS (SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality FROM m),
    r AS (
      SELECT comp.component, comp.doc_id, q.quality,
             count(*) OVER (PARTITION BY comp.component) AS cluster_size,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY q.quality DESC, comp.doc_id) AS rn
      FROM comp JOIN q USING (doc_id))
    SELECT component, cluster_size, doc_id AS canonical_doc_id,
           quality AS canonical_quality
    FROM r WHERE rn = 1
    """


@register(
    "dedup_canonical_quality",
    oracle=_canonical_oracle(),
    doc="Quality-aware canonical selection — the step after cluster "
    "resolution a real training pipeline runs: per near-dup cluster "
    "(MinHash-LSH pairs -> small/large-star components, the O(log n) "
    "petabyte path), KEEP THE BEST document by quality score (ties -> "
    "smallest doc_id) instead of the arbitrary min-id representative "
    "that dedup_cluster_components emits. The argmax is a single "
    "struct-max aggregate (quality, -doc_id) — no window over the "
    "corpus, one bounded per-component shuffle; the oracle restates it "
    "as ORDER BY quality DESC, doc_id.",
)
def dedup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        connected_components_star,
        minhash_lsh_pairs,
    )
    from petfinder_database_distributor_spark.operators.text import (
        quality_score_from_tokens,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5)
    comp = connected_components_star(pairs, shuffle_partitions="auto")
    t = F.col("text")
    q = docs.select(
        "doc_id", t, tokens(t).alias("toks")
    ).select(
        "doc_id",
        F.round(quality_score_from_tokens(t, F.col("toks")), 6).alias("quality"),
    )
    joined = comp.join(q, comp["id"] == q["doc_id"]).select(
        "component", "doc_id", "quality"
    )
    per = joined.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best"),
    )
    return per.select(
        "component",
        "cluster_size",
        (-F.col("best.neg_id")).alias("canonical_doc_id"),
        F.col("best.quality").alias("canonical_quality"),
    )


# ---------------------------------------------------------------------------
# profile_documents
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def _profile_oracle() -> str:
    # Share the HLL literals with the sketch family — importing the
    # private constants (same package) instead of restating them is
    # load-bearing: a precision retune there must not desync this query.
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _HLL_ALPHA_SQL,
        _HLL_LN_LUT_SQL,
        _HLL_LOW_RANGE,
        _HLL_M,
    )

    unions = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS col, {c}{'::VARCHAR' if c in ('doc_id', 'n_chars') else ''} AS val FROM documents"
        for c in _PROFILE_COLS
    )
    return f"""
    WITH vals AS ({unions}),
    base AS (
      SELECT col, count(*)::BIGINT AS n_rows,
             (count(*) - count(val))::BIGINT AS n_nulls,
             substr(min(val), 1, 32) AS min_val,
             substr(max(val), 1, 32) AS max_val
      FROM vals GROUP BY col),
    br AS (
      SELECT col, hv % {_HLL_M} AS bucket,
             52 - length(bin(hv // {_HLL_M})) AS rho
      FROM (SELECT col, ('0x' || substr(md5(val), 1, 15))::BIGINT AS hv
            FROM vals WHERE val IS NOT NULL)),
    regs AS (SELECT col, bucket, max(rho) AS m_j FROM br GROUP BY col, bucket),
    s AS (SELECT col, count(*) AS occupied,
                 coalesce(sum((1::BIGINT << (52 - m_j))), 0)::BIGINT AS s_occ
          FROM regs GROUP BY col),
    est AS (
      SELECT col, ({_HLL_M} - occupied)::BIGINT AS zero_regs,
             round(({_HLL_ALPHA_SQL}) * 1180591620717411303424.0
                   / (s_occ + ({_HLL_M} - occupied) * (1::BIGINT << 52)), 4)
               AS raw
      FROM s),
    fin AS (
      SELECT col, CASE WHEN zero_regs > 0 AND raw <= {_HLL_LOW_RANGE}
                  THEN round({_HLL_M} * list_extract({_HLL_LN_LUT_SQL}::DOUBLE[],
                                                     zero_regs::INT), 4)
                  ELSE raw END AS distinct_est
      FROM est)
    SELECT base.col, n_rows, n_nulls, min_val, max_val,
           coalesce(fin.distinct_est, 0.0) AS distinct_est
    FROM base LEFT JOIN fin ON base.col = fin.col
    """


@register(
    "profile_documents",
    oracle=_profile_oracle(),
    doc="Single-pass table profiler — the data-quality primitive every "
    "100 TB ingest runs first: per-column row/null counts, min/max (32-"
    "char prefix, values profiled as strings), and a portable-HLL "
    "distinct estimate with the sketch family's low-range correction. "
    "ONE scan: columns are stacked map-side via inline() (x|cols| rows "
    "but no extra pass), then two bounded shuffles — a |cols|-key stats "
    "agg and a (|cols| x 512)-key register agg. Contrast the naive "
    "profiler: one count-distinct shuffle PER COLUMN over every value. "
    "HLL literals are imported from the sketch family so the engines "
    "cannot desync.",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reuse the sketch family's register/estimate helpers — the math must
    # live in exactly one place per engine (llm_pipeline's stated
    # invariant), only the hashed column differs.
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _hll_estimates,
        _hll_rows,
        _hll_s_occ,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    entries = [
        F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("val"))
        for c in _PROFILE_COLS
    ]
    vals = docs.select(F.inline(F.array(*entries)))
    base = vals.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_nulls"),
        F.substring(F.min("val"), 1, 32).alias("min_val"),
        F.substring(F.max("val"), 1, 32).alias("max_val"),
    )
    br = _hll_rows(vals.filter(F.col("val").isNotNull()), "col", col="val")
    regs = br.groupBy("col", "bucket").agg(F.max("rho").alias("m_j"))
    s = regs.groupBy("col").agg(
        F.count(F.lit(1)).alias("occupied"),
        _hll_s_occ().alias("s_occ"),
    )
    est = _hll_estimates(s, "col").select(
        "col", F.col("hll_corrected_estimate").alias("distinct_est")
    )
    return base.join(est, "col", "left").select(
        "col",
        "n_rows",
        "n_nulls",
        "min_val",
        "max_val",
        F.coalesce("distinct_est", F.lit(0.0)).alias("distinct_est"),
    )


# ---------------------------------------------------------------------------
# zorder_layout_stats
# ---------------------------------------------------------------------------

# 10-bit x 10-bit Morton interleave as a closed-form expression — built
# once here, then rendered with each engine's shift spelling
# (Spark: shiftright(v, i); DuckDB: (v >> i)). The bit extract times a
# power-of-two literal is plain integer arithmetic in both engines.
def _morton_sql(x: str, y: str, shift_fmt: str) -> str:
    terms = []
    for i in range(10):
        sx = shift_fmt.format(v=x, i=i)
        sy = shift_fmt.format(v=y, i=i)
        terms.append(f"(({sx} & 1) * {1 << (2 * i)})")
        terms.append(f"(({sy} & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


@register(
    "zorder_layout_stats",
    oracle=f"""
    WITH m AS (
      SELECT (user_id % 1024) AS x,
             ((extract('hour' FROM ts) * 60 + extract('minute' FROM ts)) // 2) AS y
      FROM events),
    z AS (SELECT x, y, {_morton_sql('x', 'y', '({v} >> {i})')} AS morton FROM m)
    SELECT (morton // 32768) AS bucket, count(*) AS n_events,
           min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
    FROM z GROUP BY bucket
    """,
    doc="Z-order (Morton) data-layout statistics: interleave 10 bits of "
    "user_id with 10 bits of halved minute-of-day (0..719, monotonic — "
    "no wraparound aliasing), bucket the 20-bit curve into "
    "32 equal code ranges, and report per-bucket extent of both "
    "dimensions — each bucket covers a bounded quadrant of the (user, "
    "time) plane, which is exactly why writing 100 TB sorted by Morton "
    "code (repartitionByRange + sortWithinPartitions, see "
    "tests/test_zorder_layout.py) gives file-level min/max pruning on "
    "BOTH columns at once. Pure bit-op projection + a 32-key agg.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        (F.col("user_id") % 1024).alias("x"),
        # minute-of-day HALVED (0..1439 -> 0..719): a monotonic squeeze
        # into 10 bits. `% 1024` would alias evening onto early morning
        # (29% of the day wraps), destroying exactly the time-range
        # pruning the layout exists for.
        F.expr("cast((hour(ts) * 60 + minute(ts)) div 2 AS bigint)").alias("y"),
    )
    z = m.select("x", "y", F.expr(_morton_sql("x", "y", "shiftright({v}, {i})")).alias("morton"))
    return z.groupBy(F.expr("morton div 32768").alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# bpe_encode_segments
# ---------------------------------------------------------------------------

# Fixed inference-time merge table (priority-ordered, includes the
# second-order th+e -> the so real BPE layering is exercised). Training
# such a table is bpe_first_merges; APPLYING a shipped table is what an
# inference pipeline does per document, so the rules are literals here —
# which is also what makes the encode expressible as a chain of literal
# replaces in BOTH engines.
_BPE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("e", "r"),
    ("a", "n"),
    ("o", "n"),
    ("r", "e"),
    ("a", "t"),
]


def _bpe_encode_col(w):
    """word -> '|'-delimited BPE segmentation. Each rule is applied as
    replace() TWICE: occurrences sharing a delimiter ('|t|h|t|h|') are
    non-overlapping-leftmost for the scanner, so one pass merges
    alternating occurrences and the second catches the survivors — after
    pass one, remaining occurrences are non-adjacent, so two passes are
    a fixpoint. Both engines' replace() is leftmost non-overlapping
    all-occurrences, so the segmentation is bit-identical cross-engine."""
    e = F.concat(F.lit("|"), F.regexp_replace(w, "(.)", "$1|"))
    for a, b in _BPE_MERGES:
        pat, rep = F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
        e = F.replace(F.replace(e, pat, rep), pat, rep)
    return e


def _bpe_encode_sql(col: str) -> str:
    e = f"'|' || regexp_replace({col}, '(.)', '\\1|', 'g')"
    for a, b in _BPE_MERGES:
        pat, rep = f"'|{a}|{b}|'", f"'|{a}{b}|'"
        e = f"replace(replace({e}, {pat}, {rep}), {pat}, {rep})"
    return e


@register(
    "bpe_encode_segments",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                         x -> x <> '' AND NOT contains(x, '|')) AS t
      FROM documents WHERE doc_id IS NOT NULL),
    words AS (SELECT doc_id, u.w FROM toks, unnest(toks.t) u(w)),
    enc AS (SELECT doc_id, w, {_bpe_encode_sql("w")} AS seg FROM words)
    SELECT doc_id,
           count(*)::BIGINT AS n_words,
           sum(length(w))::BIGINT AS n_char_tokens,
           sum(length(seg) - length(replace(seg, '|', '')) - 1)::BIGINT
             AS n_bpe_tokens
    FROM enc GROUP BY doc_id
    """,
    doc="Inference-time BPE tokenization: apply a FIXED priority-ordered "
    "merge table (the shipped-vocabulary half of byte-pair encoding; "
    "training the table is bpe_first_merges) to every word and count "
    "the resulting segments per document — the token-budget arithmetic "
    "every LLM data pipeline runs before packing. Each merge rule is a "
    "literal replace() applied twice over a '|'-delimited char "
    "segmentation (two passes are a fixpoint for delimiter-sharing "
    "runs, see _bpe_encode_col), so the whole encode is a pure codegen "
    "expression chain — one narrow projection, one doc_id hash-agg, no "
    "UDF, no shuffle before the aggregate. Layered rules (t+h, then "
    "th+e) exercise real BPE merge ordering. Words containing the "
    "delimiter char are excluded by contract in both engines.",
)
def bpe_encode_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    )
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.col("text")), lambda x: ~x.contains("|"))
        ).alias("w"),
    )
    seg = _bpe_encode_col(F.col("w"))
    n_seg = (
        F.length(seg) - F.length(F.replace(seg, F.lit("|"), F.lit(""))) - 1
    )
    return words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).alias("n_char_tokens"),
        F.sum(n_seg).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# text_perplexity_bucket
# ---------------------------------------------------------------------------

_PPL_FRAC_BITS = 20  # fixed-point fractional bits of the log2 kernel
_PPL_P_BITS = 30  # probability quantization: t = floor(p * 2^30), clamped >= 1
_PPL_KEEP_MILLI = 9000  # keep docs under 9.000 bits/bigram mean surprise


def _log2fp_sql_ctes(src: str, prefix: str = "ppl") -> str:
    """Fixed-point log2 as chained DuckDB CTEs over the DISTINCT quantized
    probabilities in ``src`` (column ``tq``): normalize the mantissa to
    [2^30, 2^31), then 20 unrolled square-and-shift steps — the classic
    binary-digit log algorithm, integer-only, so both engines produce the
    SAME bits (pow/log are NOT cross-libm reproducible; this is). Each
    step squares a <2^31 mantissa, staying under 2^62 — no overflow.
    ``prefix`` namespaces the CTEs (final one: ``{prefix}_cost``) so one
    query can apply the kernel to several inputs (the DSIR draw runs it
    three times: delta table, uniform coin, Gumbel outer log)."""
    steps = [
        f"{prefix}_s0 AS (SELECT tq, length(bin(tq))::BIGINT AS bl,"
        f" (tq << (31 - length(bin(tq))))::BIGINT AS m, 0::BIGINT AS frac"
        f" FROM {src})"
    ]
    prev = f"{prefix}_s0"
    for i in range(1, _PPL_FRAC_BITS + 1):
        cur = f"{prefix}_s{i}"
        steps.append(
            f"{cur} AS (SELECT tq, bl,"
            f" CASE WHEN ((m*m) >> 30) >= 2147483648"
            f" THEN ((m*m) >> 30) >> 1 ELSE ((m*m) >> 30) END AS m,"
            f" frac*2 + CASE WHEN ((m*m) >> 30) >= 2147483648"
            f" THEN 1 ELSE 0 END AS frac FROM {prev})"
        )
        prev = cur
    steps.append(
        f"{prefix}_cost AS (SELECT tq,"
        f" ({_PPL_P_BITS + 1} - bl) * {1 << _PPL_FRAC_BITS} - frac AS cost_fp"
        f" FROM {prev})"
    )
    return ",\n    ".join(steps)


def _log2fp_expr(in_col: str):
    """The fixed-point log2 kernel as ONE ``aggregate()`` higher-order
    expression: the identical square-and-shift digit recurrence the 20
    chained projections used to spell out, executed per row by a single
    codegen'd loop over ``sequence(1, 20)``. Same integer ops in the same
    order → bit-identical cost_fp; but the plan carries ONE expression
    instead of 20 stacked Project nodes, so Catalyst analysis, codegen
    and the py4j plan-construction chatter all collapse (measured ~1.5-2 s
    of pure plan overhead per kernel application at sf0.1, ×2 in the
    Gumbel draw). cost_fp = -log2(in_col / 2^30) in 20.20 fixed point;
    domain [1, 2^30]."""
    b31 = 2147483648  # 2^31: mantissa renormalization threshold
    return F.expr(
        f"""aggregate(
          sequence(1, {_PPL_FRAC_BITS}),
          named_struct(
            'm', shiftleft(cast({in_col} as bigint),
                           31 - length(bin({in_col}))),
            'frac', cast(0 as bigint)),
          (acc, i) -> if(shiftright(acc.m * acc.m, 30) >= {b31}L,
            named_struct('m', shiftright(shiftright(acc.m * acc.m, 30), 1),
                         'frac', acc.frac * 2 + 1),
            named_struct('m', shiftright(acc.m * acc.m, 30),
                         'frac', acc.frac * 2)),
          acc -> ({_PPL_P_BITS + 1} - length(bin({in_col})))
                 * {1 << _PPL_FRAC_BITS}L - acc.frac
        )"""
    )


def _log2fp_cost(tvals: DataFrame) -> DataFrame:
    """The Spark twin of :func:`_log2fp_sql_ctes` over a distinct-t frame:
    cost_fp = -log2(tq / 2^30) in 20.20 fixed point (see
    :func:`_log2fp_expr` for the single-expression kernel form)."""
    return tvals.select("tq", _log2fp_expr("tq").alias("cost_fp"))


def _log2fp_cost_cols(df: DataFrame, in_col: str, out_col: str) -> DataFrame:
    """Column-preserving per-row twin of :func:`_log2fp_cost`: apply the
    same square-and-shift recurrence to ``in_col`` (a quantized value in
    [1, 2^30]) while carrying every other column through. Pure chained
    narrow projections — no join, no shuffle — so it is the right form
    when the kernel input is PER-ROW (the DSIR draw's hashed uniform
    coin) rather than a bounded distinct-t frame: at 10^10 documents a
    distinct+join-back would shuffle ~|docs| keys for no reuse. The
    recurrence is ONE ``aggregate()``
    expression (:func:`_log2fp_expr`) instead of 20 stacked projections —
    identical bits, a fraction of the plan."""
    keep = [c for c in df.columns if c != in_col]
    return df.select(*keep, in_col, _log2fp_expr(in_col).alias(out_col))


def _global_ntile(per: DataFrame, order_cols: list, out_name: str, n: int = 3) -> DataFrame:
    """Exact distributed ``ntile(n)`` over the deterministic total order
    ``order_cols`` — the scale-safe twin of
    ``F.ntile(n).over(Window.orderBy(*order_cols))``, which moves the
    ENTIRE frame into ONE task (at 1e10 documents that is hundreds of GB
    through a single sort). Two-phase
    range-partition pattern, shared with dataset_ops.shuffle_index:
    range-repartition on the order key so partitions ARE contiguous rank
    ranges, count rows per partition (a |partitions|-row aggregate),
    prefix-sum those counts into per-partition offsets with a window over
    that tiny frame, broadcast the offsets back, add the within-partition
    row_number for the exact 1-based global position, and map position to
    a tile with the closed-form ANSI NTILE bucket math (N div n per
    bucket; the first N mod n buckets take one extra row). Bit-identical
    to the single-partition form because range partitions are ordered by
    the same key and (order_cols) is a total order. ``per`` is
    localCheckpointed (DISK_ONLY — per-doc corpus-bulk discipline)
    because the laid-out frame feeds BOTH the counts aggregate and the
    final join, and spark_partition_id must be STABLE between the two
    consumptions (range boundaries come from sampling; an un-pinned
    recompute could resample them)."""
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    laid = (
        per.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    # |partitions| rows — the unpartitioned windows below are a
    # driver-sized metadata pass, not a data-sized sort.
    offsets = (
        laid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_off"),
            F.sum("_cnt")
            .over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("_n"),
        )
    )
    pos = F.col("_off") + F.row_number().over(
        Window.partitionBy("_pid").orderBy(*order_cols)
    )
    tile = F.expr(
        f"CASE WHEN _pos <= ((_n div {n}) + 1) * (_n % {n})"
        f" THEN (_pos - 1) div ((_n div {n}) + 1)"
        f" ELSE (_n % {n}) + (_pos - 1 - ((_n div {n}) + 1) * (_n % {n}))"
        f" div greatest(_n div {n}, 1) END + 1"
    )
    return (
        laid.join(F.broadcast(offsets), "_pid")
        .withColumn("_pos", pos)
        .withColumn(out_name, tile.cast("long"))
        .drop("_pid", "_off", "_n", "_pos")
    )


def _perplexity_oracle() -> str:
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    return f"""
    WITH tk AS ({_TOKS_SQL}),
    d2 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
    big AS (SELECT doc_id, u.b AS bg, split_part(u.b, ' ', 1) AS w1
            FROM (SELECT doc_id,
                         [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bgs
                  FROM d2), unnest(bgs) u(b)),
    c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM big GROUP BY 1),
    c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM big GROUP BY 1),
    vocab AS (SELECT count(DISTINCT u.tok)::BIGINT AS v
              FROM tk, unnest(tk.t) u(tok)),
    tmap AS (SELECT c2.bg,
                    greatest(1, (((c2.c2 + 1)::HUGEINT * {1 << _PPL_P_BITS})
                                 // (c1.c1 + vocab.v))::BIGINT) AS tq
             FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1, vocab),
    tv AS (SELECT DISTINCT tq FROM tmap),
    {_log2fp_sql_ctes("tv")},
    bstat AS (SELECT doc_id, bg, count(*)::BIGINT AS cnt FROM big GROUP BY 1, 2),
    per AS (SELECT bs.doc_id, sum(bs.cnt)::BIGINT AS n_bigrams,
                   sum(bs.cnt * pc.cost_fp)::BIGINT AS nll_fp
            FROM bstat bs JOIN tmap ON bs.bg = tmap.bg
                          JOIN ppl_cost pc ON tmap.tq = pc.tq
            GROUP BY 1)
    SELECT doc_id, n_bigrams,
           ((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}))::BIGINT
             AS mean_bits_milli,
           (((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS})) // 2000)::BIGINT
             AS ppl_bucket,
           ntile(3) OVER (ORDER BY
             (nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}), doc_id)::BIGINT
             AS ccnet_tercile,
           ((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}))
             <= {_PPL_KEEP_MILLI} AS keep
    FROM per
    """


def _ppl_corpus_frames(spark: SparkSession, sf_dir: str):
    """(tk, big) for the perplexity family: per-doc token arrays and the
    exploded bigram table. The bigram table feeds c2, c1 AND the per-doc
    re-agg: materialize once (same CSE argument as text_commonness_score's
    token frame) — DISK_ONLY, never the memory store: bigram occurrences
    are a corpus-bulk wedge, exactly the shape that runs a 1-GiB driver
    out of heap when checkpointed to memory."""
    from pyspark.storagelevel import StorageLevel

    from petfinder_database_distributor_spark.operators.text import tokens

    from petfinder_database_distributor_spark.util import pushdown_barrier

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # pushdown_barrier: the size(t) >= 2 filter below
    # otherwise pushes beneath this projection with the whole tokenize
    # tree inlined into the Filter — every document tokenized twice in
    # the bigram-checkpoint job (and again for the vocab branch, which
    # the barrier leaves as its own single evaluation).
    tk = docs.select(
        "doc_id", pushdown_barrier(tokens(F.col("text"))).alias("t")
    )
    big = (
        tk.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2),"
                       " i -> concat(t[i], ' ', t[i + 1]))")
            ).alias("bg"),
        )
        .select("doc_id", "bg", F.substring_index("bg", " ", 1).alias("w1"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    return tk, big


@register(
    "text_perplexity_bucket",
    oracle=_perplexity_oracle(),
    doc="Bigram LM perplexity quality gate — the CCNet-style corpus "
    "filter that unigram commonness (text_commonness_score) stops short "
    "of: train add-one-smoothed bigram probabilities p(b|a) = (c2+1)/"
    "(c1+V) in ONE counting pass over the corpus, score each document's "
    "mean per-bigram surprise -log2 p, and bucket it. The log is an "
    "integer FIXED-POINT kernel (mantissa square-and-shift, 20 frac "
    "bits, computed over the DISTINCT quantized probabilities only — a "
    "bounded-size frame — then joined back), because pow/log are not "
    "cross-libm reproducible but integer multiply/shift are: the whole "
    "iterative statistic hash-matches DuckDB bit-for-bit. Probabilities "
    "quantize to t = floor(p * 2^30) clamped >= 1 (the clamp caps any "
    "bigram's surprise at 30 bits — reachable only when a history "
    "exceeds ~2^30 occurrences). The kernel is ONE aggregate() "
    "higher-order expression applied INLINE per corpus-bounded bigram "
    "row (20 integer ops/row beat a distinct-t aggregate + broadcast "
    "join-back shuffle in every regime). "
    "Plan: two linear bigram aggs (c2, c1), a broadcast vocab scalar, "
    "the inline fixed-point kernel, one per-doc agg; the CCNet tercile "
    "closes through the distributed two-phase range-partition ntile "
    "(_global_ntile — never a single-task global sort). Docs under 2 "
    "tokens have no bigram evidence and are excluded by construction.",
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk, big = _ppl_corpus_frames(spark, sf_dir)
    c2 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = tk.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    tmap = (
        c2.select("bg", "c2", F.substring_index("bg", " ", 1).alias("w1"))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"cast((cast(c2 + 1 as decimal(38,0)) * {1 << _PPL_P_BITS})"
                    f" div (c1 + v) as bigint)"
                ),
            ).alias("tq"),
        )
    )
    # the kernel is one aggregate() expression, so apply it INLINE on
    # the (already corpus-bounded) tmap rows — 20 integer ops per
    # distinct bigram — instead of a distinct-t + broadcast-join-back,
    # which costs a distinct shuffle and a broadcast build per query for
    # the same bits.
    tmap = _log2fp_cost_cols(tmap, "tq", "cost_fp")
    bstat = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    per = (
        bstat.join(tmap, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("cost_fp")).alias("nll_fp"),
        )
    )
    mean_milli = F.expr(
        f"(nll_fp * 1000) div (n_bigrams * {1 << _PPL_FRAC_BITS})"
    )
    # CCNet's actual gate is RELATIVE: head/middle/tail perplexity
    # terciles over the corpus, not an absolute threshold. The tercile is
    # the distributed two-phase ntile (_global_ntile) — same bucket
    # semantics as ntile(3) OVER (ORDER BY score, doc_id), never a
    # single-partition sort.
    base = per.select("doc_id", "n_bigrams", mean_milli.alias("mean_bits_milli"))
    ranked = _global_ntile(
        base, [F.col("mean_bits_milli"), F.col("doc_id")], "ccnet_tercile"
    )
    return ranked.select(
        "doc_id",
        "n_bigrams",
        "mean_bits_milli",
        F.expr("mean_bits_milli div 2000").alias("ppl_bucket"),
        "ccnet_tercile",
        (F.col("mean_bits_milli") <= _PPL_KEEP_MILLI).alias("keep"),
    )


# Jelinek-Mercer interpolation weight: p = (7/10) p_ML(b|a) + (3/10) p_uni(b)
_PPL_LAMBDA_NUM, _PPL_LAMBDA_DEN = 7, 10


def _perplexity_interp_oracle() -> str:
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    lam, den = _PPL_LAMBDA_NUM, _PPL_LAMBDA_DEN
    return f"""
    WITH tk AS ({_TOKS_SQL}),
    d2 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
    big AS (SELECT doc_id, u.b AS bg, split_part(u.b, ' ', 1) AS w1
            FROM (SELECT doc_id,
                         [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bgs
                  FROM d2), unnest(bgs) u(b)),
    c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM big GROUP BY 1),
    c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM big GROUP BY 1),
    uni AS (SELECT u.tok AS w2, count(*)::BIGINT AS cu
            FROM tk, unnest(tk.t) u(tok) GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n, count(DISTINCT u.tok)::BIGINT AS v
            FROM tk, unnest(tk.t) u(tok)),
    tmap AS (SELECT c2.bg,
                    greatest(1, ((({lam}::HUGEINT*c2.c2*(tot.n+tot.v)
                                   + {den - lam}::HUGEINT*(uni.cu+1)*c1.c1)
                                  * {1 << _PPL_P_BITS})
                                 // ({den}::HUGEINT * c1.c1
                                     * (tot.n+tot.v)))::BIGINT) AS tq
             FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
                     JOIN uni ON split_part(c2.bg, ' ', 2) = uni.w2, tot),
    tv AS (SELECT DISTINCT tq FROM tmap),
    {_log2fp_sql_ctes("tv")},
    bstat AS (SELECT doc_id, bg, count(*)::BIGINT AS cnt FROM big GROUP BY 1, 2),
    per AS (SELECT bs.doc_id, sum(bs.cnt)::BIGINT AS n_bigrams,
                   sum(bs.cnt * pc.cost_fp)::BIGINT AS nll_fp
            FROM bstat bs JOIN tmap ON bs.bg = tmap.bg
                          JOIN ppl_cost pc ON tmap.tq = pc.tq
            GROUP BY 1)
    SELECT doc_id, n_bigrams,
           ((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}))::BIGINT
             AS mean_bits_milli,
           (((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS})) // 2000)::BIGINT
             AS ppl_bucket,
           ntile(3) OVER (ORDER BY
             (nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}), doc_id)::BIGINT
             AS ccnet_tercile,
           ((nll_fp * 1000) // (n_bigrams * {1 << _PPL_FRAC_BITS}))
             <= {_PPL_KEEP_MILLI} AS keep
    FROM per
    """


@register(
    "text_perplexity_interp",
    oracle=_perplexity_interp_oracle(),
    doc="Interpolated-backoff perplexity gate — the KenLM/CCNet-style "
    "refinement of text_perplexity_bucket's add-one bigram LM: "
    "Jelinek-Mercer p = 0.7 p_ML(b|a) + 0.3 p_uni(b), where p_uni is "
    "the add-one-smoothed unigram of the PREDICTED token. Backoff "
    "changes keep/drop decisions exactly where add-one misjudges: a "
    "bigram after a RARE history (c1 small) is no longer crushed by "
    "the +V denominator but pulled toward the predicted word's own "
    "corpus frequency — rare-history documents stop being spuriously "
    "surprising. The mixture is exact rational arithmetic (one shared "
    "denominator, quantized t = floor(p * 2^30) via DECIMAL(38)/"
    "HUGEINT intermediates, clamped >= 1), feeding the SAME integer "
    "fixed-point log2 kernel over the distinct quantized "
    "probabilities, so the interpolated statistic is as bit-identical "
    "cross-engine as the add-one one. One extra counting pass "
    "(unigram counts of predicted tokens) on top of the bucket "
    "query's plan shape.",
)
def text_perplexity_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk, big = _ppl_corpus_frames(spark, sf_dir)
    c2 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    toks = tk.select(F.explode("t").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    tot = toks.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("tok").alias("v")
    )
    lam, lden = _PPL_LAMBDA_NUM, _PPL_LAMBDA_DEN
    tmap = (
        c2.select(
            "bg",
            "c2",
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("tok"),
        )
        .join(c1, "w1")
        .join(uni, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            # DECIMAL(38,0) from the FIRST product: the long form wraps
            # silently at n+v ~ 2e9 x c1 ~ 5e8 (den = 1e19 > 2^63) while
            # the oracle's HUGEINT doesn't — a cross-engine divergence
            # window. decimal(38) holds the realistic 100 TB text range
            # (num * 2^30 <= ~5e36 < 1e38); the oracle casts ::HUGEINT
            # before its products for the same reason.
            F.expr(
                f"cast({lam} as decimal(38,0)) * c2 * (n + v)"
                f" + cast({lden - lam} as decimal(38,0)) * (cu + 1) * c1"
            ).alias("num"),
            F.expr(f"cast({lden} as decimal(38,0)) * c1 * (n + v)").alias("den"),
        )
        .select(
            "bg",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"cast((cast(num as decimal(38,0)) * {1 << _PPL_P_BITS})"
                    f" div den as bigint)"
                ),
            ).alias("tq"),
        )
    )
    # inline single-expression kernel on tmap — same
    # bits, no distinct shuffle, no broadcast join-back (see
    # text_perplexity_bucket).
    tmap = _log2fp_cost_cols(tmap, "tq", "cost_fp")
    bstat = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    per = (
        bstat.join(tmap, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("cost_fp")).alias("nll_fp"),
        )
    )
    mean_milli = F.expr(
        f"(nll_fp * 1000) div (n_bigrams * {1 << _PPL_FRAC_BITS})"
    )
    # tercile = distributed two-phase ntile (see _global_ntile), never a
    # single-partition global window
    base = per.select("doc_id", "n_bigrams", mean_milli.alias("mean_bits_milli"))
    ranked = _global_ntile(
        base, [F.col("mean_bits_milli"), F.col("doc_id")], "ccnet_tercile"
    )
    return ranked.select(
        "doc_id",
        "n_bigrams",
        "mean_bits_milli",
        F.expr("mean_bits_milli div 2000").alias("ppl_bucket"),
        "ccnet_tercile",
        (F.col("mean_bits_milli") <= _PPL_KEEP_MILLI).alias("keep"),
    )


# DSIR feature space: hashed unigram buckets (the paper's hashed n-grams)
_DSIR_BUCKETS = 4096


def _dsir_per_sql() -> str:
    """The WITH-body prefix shared by sample_importance_dsir and the
    resampling draw: hashed-unigram features -> raw/target bucket
    unigrams -> fixed-point log-ratio delta table -> per-doc
    (doc_id, n_feats, logw_fp) as CTE ``per``."""
    from petfinder_database_distributor_spark.operators.text import MD5INT_SQL
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    B = _DSIR_BUCKETS
    return f"""tk AS ({_TOKS_SQL}),
    feats AS (SELECT doc_id, lang, ({MD5INT_SQL.format(x="u.tok")}) % {B} AS b
              FROM tk, unnest(tk.t) u(tok)),
    cr AS (SELECT b, count(*)::BIGINT AS cr FROM feats GROUP BY 1),
    ct AS (SELECT b, count(*)::BIGINT AS ct FROM feats WHERE lang = 'en'
           GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS nr,
                   count(*) FILTER (WHERE lang = 'en')::BIGINT AS nt
            FROM feats),
    stats AS (SELECT cr.b,
                     greatest(1, (((cr.cr + 1)::HUGEINT * {1 << _PPL_P_BITS})
                                  // (tot.nr + {B}))::BIGINT) AS tq_r,
                     greatest(1, (((coalesce(ct.ct, 0) + 1)::HUGEINT
                                   * {1 << _PPL_P_BITS})
                                  // (tot.nt + {B}))::BIGINT) AS tq_t
              FROM cr LEFT JOIN ct USING (b), tot),
    tv AS (SELECT DISTINCT tq_r AS tq FROM stats
           UNION SELECT DISTINCT tq_t FROM stats),
    {_log2fp_sql_ctes("tv")},
    delta AS (SELECT s.b, (pr.cost_fp - pt.cost_fp)::BIGINT AS delta_fp
              FROM stats s JOIN ppl_cost pr ON s.tq_r = pr.tq
                           JOIN ppl_cost pt ON s.tq_t = pt.tq),
    per AS (SELECT f.doc_id, count(*)::BIGINT AS n_feats,
                   sum(d.delta_fp)::BIGINT AS logw_fp
            FROM feats f JOIN delta d USING (b) GROUP BY 1)"""


def _dsir_oracle() -> str:
    return f"""
    WITH {_dsir_per_sql()}
    SELECT doc_id, n_feats, logw_fp, logw_fp > 0 AS keep,
           ntile(3) OVER (ORDER BY logw_fp DESC, doc_id)::BIGINT AS dsir_tercile
    FROM per
    """


@register(
    "sample_importance_dsir",
    oracle=_dsir_oracle(),
    doc="DSIR importance weighting (Xie et al. 2023) — data selection by "
    "importance resampling: score every document by how much more "
    "likely its hashed-unigram features are under the TARGET "
    "distribution (the lang='en' slice — the in-domain corpus role "
    "Wikipedia plays in the paper) than under the raw corpus. "
    "log-importance = sum_f count_doc(f) * (log2 p_t(f) - log2 p_r(f)) "
    "with add-one-smoothed bucket unigrams over a 4096-bucket md5 "
    "feature space; both logs run through the SAME integer fixed-point "
    "log2 kernel as the perplexity family (over the distinct quantized "
    "probabilities of BOTH distributions at once), emitted as the raw "
    "20-bit fixed-point integer — no division of signed values, so no "
    "floor-vs-truncate divergence — making an importance-sampling "
    "statistic bit-identical cross-engine. keep = more-target-like "
    "than raw (logw > 0); terciles for budget-capped selection. Plan: "
    "one token explode (DISK_ONLY-checkpointed, feeds three "
    "aggregates), two bounded 4096-key bucket aggs, a broadcast "
    "4096-row delta table, one per-doc agg; the tercile closes "
    "through the distributed two-phase range-partition ntile "
    "(_global_ntile).",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _dsir_per_frame(spark, sf_dir)
    # tercile = distributed two-phase ntile (see _global_ntile), never a
    # single-partition global window
    ranked = _global_ntile(
        per, [F.col("logw_fp").desc(), F.col("doc_id")], "dsir_tercile"
    )
    return ranked.select(
        "doc_id",
        "n_feats",
        "logw_fp",
        (F.col("logw_fp") > 0).alias("keep"),
        "dsir_tercile",
    )


def _dsir_per_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_dsir_per_sql`: the per-document
    (doc_id, n_feats, logw_fp) DSIR score frame shared by the tercile
    query and the resampling draw."""
    from pyspark.storagelevel import StorageLevel

    from petfinder_database_distributor_spark.operators.text import md5int, tokens

    B = _DSIR_BUCKETS
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # pushdown_barrier: the explode below makes
    # Catalyst infer size(t) > 0 and push it beneath this projection
    # with the tokenize tree inlined — every document tokenized twice
    # in the feats-checkpoint job without the barrier.
    from petfinder_database_distributor_spark.util import pushdown_barrier

    tk = docs.select(
        "doc_id", "lang", pushdown_barrier(tokens(F.col("text"))).alias("t")
    )
    # the exploded feature table feeds the raw counts, the target counts
    # AND the per-doc re-agg — materialize once; corpus-bulk, so
    # DISK_ONLY to keep it off the driver heap
    feats = (
        tk.select("doc_id", "lang", F.explode("t").alias("tok"))
        .select("doc_id", "lang", (md5int(F.col("tok")) % B).alias("b"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    cr = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    ct = (
        feats.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = feats.agg(
        F.count(F.lit(1)).alias("nr"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("nt"),
    )
    stats = (
        cr.join(ct, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            # DECIMAL(38,0) before the product (the interp lesson: longs
            # wrap at 100 TB count magnitudes; the oracle goes ::HUGEINT)
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"cast((cast(cr + 1 as decimal(38,0))"
                    f" * {1 << _PPL_P_BITS}) div (nr + {B}) as bigint)"
                ),
            ).alias("tq_r"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"cast((cast(ct + 1 as decimal(38,0))"
                    f" * {1 << _PPL_P_BITS}) div (nt + {B}) as bigint)"
                ),
            ).alias("tq_t"),
        )
    )
    # the stats frame is bounded at 4096 rows (the
    # hashed-bucket space), so run the single-expression kernel INLINE on
    # tq_r and tq_t — the old union+distinct shuffle and TWO broadcast
    # join-backs bought nothing but plan weight for the same bits
    # (remove shuffles outright).
    delta = _log2fp_cost_cols(
        _log2fp_cost_cols(stats, "tq_r", "cost_r"), "tq_t", "cost_t"
    ).select("b", (F.col("cost_r") - F.col("cost_t")).alias("delta_fp"))
    return (
        feats.join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("delta_fp").alias("logw_fp"),
        )
    )


# DSIR step 2 — the resampling draw: a fixed example budget drawn by
# Gumbel-top-k over the fixed-point log-importance weights
_DSIR_DRAW_K = 32
# 2^30 - 1: the hashed uniform coin tu is in [1, 2^30 - 1], so u = tu/2^30
# never hits 0 (log undefined) or 1 (Gumbel +inf)
_DSIR_COIN_MOD = (1 << _PPL_P_BITS) - 1
# -log2(e_fp / 2^20) = kernel_cost(e_fp) - (30 - 20) * 2^20
_DSIR_GUMBEL_SHIFT = (_PPL_P_BITS - _PPL_FRAC_BITS) * (1 << _PPL_FRAC_BITS)


def _dsir_draw_oracle() -> str:
    from petfinder_database_distributor_spark.operators.text import MD5INT_SQL

    return f"""
    WITH {_dsir_per_sql()},
    gu AS (SELECT doc_id, n_feats, logw_fp,
                  (({MD5INT_SQL.format(x="'gum:' || doc_id")})
                   % {_DSIR_COIN_MOD}) + 1 AS tq
           FROM per WHERE doc_id IS NOT NULL),
    gtv AS (SELECT DISTINCT tq FROM gu),
    {_log2fp_sql_ctes("gtv", prefix="ga")},
    ed AS (SELECT gu.doc_id, gu.n_feats, gu.logw_fp,
                  greatest(1, ga_cost.cost_fp)::BIGINT AS etq
           FROM gu JOIN ga_cost USING (tq)),
    etv AS (SELECT DISTINCT etq AS tq FROM ed),
    {_log2fp_sql_ctes("etv", prefix="gb")},
    sc AS (SELECT ed.doc_id, ed.n_feats, ed.logw_fp,
                  (gb_cost.cost_fp - {_DSIR_GUMBEL_SHIFT})::BIGINT AS gumbel_fp,
                  (ed.logw_fp + gb_cost.cost_fp
                   - {_DSIR_GUMBEL_SHIFT})::BIGINT AS score_fp
           FROM ed JOIN gb_cost ON ed.etq = gb_cost.tq)
    SELECT doc_id, n_feats, logw_fp, gumbel_fp, score_fp
    FROM sc ORDER BY score_fp DESC, doc_id LIMIT {_DSIR_DRAW_K}
    """


@register(
    "sample_importance_dsir_draw",
    oracle=_dsir_draw_oracle(),
    doc="DSIR step 2 (Xie et al. 2023) — the actual importance-resampling "
    "DRAW the score query stops short of: select a fixed example budget "
    "k = 32 by Gumbel-top-k over the log-importance weights, which is "
    "exactly sampling WITHOUT replacement with probability proportional "
    "to the importance weight. The Gumbel noise is deterministic and "
    "integer-only: a salted md5 coin tu in [1, 2^30) stands for "
    "u = tu/2^30, and g = -log2(-log2 u) runs the shared fixed-point "
    "log2 kernel TWICE (inner: -log2 u as a 20-bit fixed-point energy, "
    "clamped >= 1; outer: the kernel re-applied to that energy, shifted "
    "by (30-20) bits' worth). Base-2 Gumbel is an affine transform of "
    "the natural-log Gumbel (scale 1/ln 2, shared constant), so "
    "top-k(logw_fp + g_fp) is distributionally the paper's draw while "
    "staying bit-identical cross-engine — no float log, no rand(). "
    "Plan: the per-doc score frame (three bounded bucket aggs + "
    "broadcast delta join), 40 narrow kernel projections (no "
    "distinct+join-back: the coin is per-row, so a distinct frame "
    "would shuffle ~|docs| keys for zero reuse), then ORDER BY + LIMIT "
    "k = TakeOrderedAndProject — a distributed bounded top-k, never a "
    "global sort. Budget-exactness and determinism are pinned in "
    "tests/test_mining.py.",
)
def sample_importance_dsir_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import md5int

    per = _dsir_per_frame(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    gu = per.withColumn(
        "tu",
        (
            md5int(F.concat(F.lit("gum:"), F.col("doc_id").cast("string")))
            % _DSIR_COIN_MOD
        )
        + 1,
    )
    e = _log2fp_cost_cols(gu, "tu", "e_fp").select(
        "doc_id",
        "n_feats",
        "logw_fp",
        F.greatest(F.lit(1).cast("long"), F.col("e_fp")).alias("etq"),
    )
    g = _log2fp_cost_cols(e, "etq", "c2").select(
        "doc_id",
        "n_feats",
        "logw_fp",
        (F.col("c2") - _DSIR_GUMBEL_SHIFT).alias("gumbel_fp"),
    )
    sc = g.withColumn("score_fp", F.col("logw_fp") + F.col("gumbel_fp"))
    return (
        sc.select("doc_id", "n_feats", "logw_fp", "gumbel_fp", "score_fp")
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(_DSIR_DRAW_K)
    )


# ---------------------------------------------------------------------------
# text_vocab_coverage
# ---------------------------------------------------------------------------

_VOCAB_KS = (100, 1000, 10000)


def _vocab_oracle() -> str:
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    ks = ", ".join(f"({k})" for k in _VOCAB_KS)
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT u.x AS term, count(*)::BIGINT AS tf
           FROM toks, unnest(toks.t) u(x) GROUP BY 1),
    tot AS (SELECT sum(tf)::BIGINT AS total_tok, count(*)::BIGINT AS vocab_size
            FROM tf HAVING count(*) > 0),
    top AS (SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term) AS rk
            FROM tf ORDER BY tf DESC, term LIMIT {max(_VOCAB_KS)}),
    ks(k) AS (VALUES {ks})
    SELECT ks.k::BIGINT AS k, tot.vocab_size,
           coalesce(sum(top.tf) FILTER (WHERE top.rk <= ks.k), 0)::BIGINT
             AS covered_tok,
           tot.total_tok,
           (coalesce(sum(top.tf) FILTER (WHERE top.rk <= ks.k), 0)
              * 1000000 // tot.total_tok)::BIGINT AS coverage_ppm
    FROM ks, tot LEFT JOIN top ON true
    GROUP BY ks.k, tot.vocab_size, tot.total_tok
    """


@register("text_vocab_coverage", oracle=_vocab_oracle())
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-planning vocabulary coverage curve: for k in {100, 1k,
    10k}, the fraction (ppm integer) of all corpus token OCCURRENCES
    covered by the k most frequent terms (ties broken lexically) — the
    measurement that sizes a vocabulary before training one (a 10k vocab
    covering 99.9% of occurrences says most of a larger vocab would be
    tail singletons). Plan: one corpus-sized term-frequency agg with
    map-side partials; the global top-k rides orderBy().limit() —
    TakeOrderedAndProject (per-partition heaps, never a full sort) — and
    everything after runs over that bounded <=10k-row frame (the
    register-table window class, see the plan-quality allowlist) plus
    two broadcast scalars. At 100 TB the only corpus-sized work is the
    tf agg; the curve itself is metadata-sized. An EMPTY corpus has no
    curve: zero rows on both engines (the oracle's HAVING empties its
    scalar CTE; Spark's empty top-k crossJoin is already empty)."""
    docs = load_table(spark, sf_dir, "documents")
    # |vocab|-row frame feeding TWO consumers (scalars + top-k) —
    # materialize once so the corpus explode+agg runs a single time
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    # two corpus-level scalars in ONE pass, broadcast to the 3-row output
    tot = tf.agg(
        F.sum("tf").cast("long").alias("total_tok"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    top = (
        tf.orderBy(F.col("tf").desc(), "term")
        .limit(max(_VOCAB_KS))
        .select(
            "term",
            "tf",
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), "term"))
            .alias("rk"),
        )
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("k")
    )
    covered = (
        ks.crossJoin(top)
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rk") <= F.col("k"), F.col("tf"))), F.lit(0)
            )
            .cast("long")
            .alias("covered_tok")
        )
    )
    return (
        covered.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("k"),
            "vocab_size",
            "covered_tok",
            "total_tok",
            F.expr("covered_tok * 1000000 div total_tok").alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# text_zipf_fit
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 64
_ZIPF_CLAMP = 1 << 30  # the log2 kernel's domain ceiling
_ZIPF_FRAC = 20  # the kernel's fixed-point fraction bits (mining._PPL_FRAC_BITS)


def _zipf_oracle() -> str:
    from petfinder_database_distributor_spark.plans.llm_pipeline import _TOKS_SQL

    log2_of = f"(30 * {1 << _ZIPF_FRAC} - {{c}})"
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT u.x AS term, count(*)::BIGINT AS tf
           FROM toks, unnest(toks.t) u(x) GROUP BY 1),
    top AS (SELECT term, tf,
                   least(tf, {_ZIPF_CLAMP}) AS tfc,
                   row_number() OVER (ORDER BY tf DESC, term) AS rk
            FROM tf ORDER BY tf DESC, term LIMIT {_ZIPF_TOPK}),
    vals AS (SELECT DISTINCT tq FROM (
       SELECT rk AS tq FROM top UNION SELECT tfc FROM top)),
    {_log2fp_sql_ctes("vals", prefix="zf")},
    xy AS (SELECT t.rk, t.tf,
                  {log2_of.format(c="cx.cost_fp")} AS x,
                  {log2_of.format(c="cy.cost_fp")} AS y
           FROM top t
           JOIN zf_cost cx ON cx.tq = t.rk
           JOIN zf_cost cy ON cy.tq = t.tfc),
    s AS (SELECT count(*)::HUGEINT AS n,
                 sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
                 sum(x::HUGEINT * y)::HUGEINT AS sxy,
                 sum(x::HUGEINT * x)::HUGEINT AS sxx
          FROM xy),
    fit AS (SELECT n, (n * sxy - sx * sy) AS num,
                   (n * sxx - sx * sx) AS den
            FROM s WHERE (n * sxx - sx * sx) > 0)
    SELECT n::BIGINT AS n_terms,
           (CASE WHEN num < 0 THEN -((1000 * -num) // den)
                 ELSE (1000 * num) // den END)::BIGINT AS slope_milli,
           (SELECT term FROM top WHERE rk = 1) AS top_term,
           (SELECT tf FROM top WHERE rk = 1)::BIGINT AS top_tf,
           (SELECT max(tf) > {_ZIPF_CLAMP} FROM top) AS freq_clamped
    FROM fit
    """


@register("text_zipf_fit", oracle=_zipf_oracle())
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Zipf's-law slope fit over the top-64 term
    frequencies — the vocabulary-health diagnostic of corpus curation
    (natural language fits log(freq) ~ slope * log(rank) with slope
    ~ -1; template/boilerplate-heavy or synthetic corpora deviate hard,
    so the slope is a one-number corpus fingerprint to track across
    ingest batches). NOTHING here is float: ranks and (2^30-clamped,
    loudly flagged) frequencies run through the same 20-bit fixed-point
    square-and-shift log2 kernel as the perplexity family
    (plans/mining.py::_log2fp_cost — pow/log are NOT cross-libm
    reproducible; this is), and the least-squares slope is exact integer
    arithmetic — slope_milli = trunc(1000 * (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2)) with decimal(38,0)/HUGEINT products (the cross terms
    overflow int64 at ~8e20) and an explicit sign-split so BOTH engines
    truncate toward zero (Spark div truncates, DuckDB // floors — they
    disagree on negatives, and a Zipf slope IS negative). Degenerate
    corpora (< 2 distinct top terms => zero fit variance) yield ZERO
    rows on both engines. Plan shape: one corpus-sized term-frequency
    hash agg with map-side partials; the top-64 rides orderBy().limit()
    (TakeOrderedAndProject); the kernel and the fit run over a <=128-row
    register frame (window over 64 rows — the plan-quality allowlist's
    register-table class). At 100 TB the only corpus-sized work is the
    tf agg — identical posture to text_vocab_coverage."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = (
        tf.orderBy(F.col("tf").desc(), "term")
        .limit(_ZIPF_TOPK)
        .select(
            "term",
            "tf",
            F.least(F.col("tf"), F.lit(_ZIPF_CLAMP)).alias("tfc"),
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), "term"))
            .cast("long")
            .alias("rk"),
        )
        .localCheckpoint(eager=True)  # 64-row register frame, 3 consumers
    )
    vals = (
        top.select(F.col("rk").alias("tq"))
        .union(top.select(F.col("tfc").alias("tq")))
        .distinct()
    )
    cost = _log2fp_cost(vals)
    log2_of = (F.lit(30 * (1 << _ZIPF_FRAC)) - F.col("cost_fp")).cast("long")
    cx = cost.select(F.col("tq").alias("rk"), log2_of.alias("x"))
    cy = cost.select(F.col("tq").alias("tfc"), log2_of.alias("y"))
    xy = top.join(cx, "rk").join(cy, "tfc")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
    )
    fit = s.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    ).filter(F.col("den") > 0)
    slope = F.when(
        F.col("num") < 0,
        -F.expr("CAST((1000 * -num) div den AS BIGINT)"),
    ).otherwise(F.expr("CAST((1000 * num) div den AS BIGINT)"))
    top1 = top.filter(F.col("rk") == 1).select(
        F.col("term").alias("top_term"), F.col("tf").alias("top_tf")
    )
    flag = top.agg((F.max("tf") > _ZIPF_CLAMP).alias("freq_clamped"))
    return (
        fit.crossJoin(F.broadcast(top1))
        .crossJoin(F.broadcast(flag))
        .select(
            F.col("n").cast("long").alias("n_terms"),
            slope.cast("long").alias("slope_milli"),
            "top_term",
            F.col("top_tf").cast("long").alias("top_tf"),
            "freq_clamped",
        )
    )
