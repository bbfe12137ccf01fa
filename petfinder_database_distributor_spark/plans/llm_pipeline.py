"""North-star LLM-data-pipeline queries (BASELINE.json): text analysis,
dedup families (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding),
similarity search (brute-force + SRP-LSH ANN), multimodal plumbing.

Every hash-based operator uses the portable md5int primitive so even
MinHash/SimHash/LSH results are value-checked against DuckDB. SQL oracles
restate the same algorithm in DuckDB list/lambda dialect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
    SIMHASH_BITS,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_auto,
    simhash_blocks,
    simhash_signatures,
    simhash_neardup_pairs,
)
from petfinder_database_distributor_spark.operators.multimodal import (
    attach_binary_payload,
    decode_features,
)
from petfinder_database_distributor_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    as_double,
    lsh_topk,
    srp_plane_matrix,
)
from petfinder_database_distributor_spark.operators.text import (
    DEFAULT_STOPWORDS,
    MD5INT_SQL,
    bag_of_words_fingerprint,
    bpe_ish_token_count,
    lang_id_from_tokens,
    md5int,
    mean_word_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import finite_measures, load_table

def _load_embeddings(spark: SparkSession, sf_dir: str):
    """Embeddings with the vector-family dirty-data contract applied: rows
    with a NULL id or NULL vector are excluded (they would crash the Arrow
    kernels), and so are ZERO-NORM vectors (a
    zero vector has no direction, cosine's norm-product division RAISES
    DIVIDE_BY_ZERO under Spark 4.x default ANSI mode — one dirty row
    would kill a 100 TB job). Every oracle in the family carries the
    identical WHERE, so exclusion is symmetric; the clean fixtures
    contain no such rows, so clean hashes are unchanged by construction.
    `F.exists` short-circuits JVM-side — cheaper than the division it
    guards."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & F.exists(F.col("embedding"), lambda x: x != 0)
    )


# ---------------------------------------------------------------------------
# Shared DuckDB fragments
# ---------------------------------------------------------------------------

_TOKS_SQL = """
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'), x -> x <> '') AS t
  FROM documents
"""

_MD5INT = MD5INT_SQL

# Blocking for the simhash oracle — generated from the SAME (shift, width)
# split the Spark operator uses (max_hamming=2 → 3 blocks of 20-bit keys
# over the 60-bit signature; see operators/dedup_fuzzy.py::SIMHASH_BITS).
_SIMHASH_BLOCKS_SQL = "\n      UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS half, "
    f"(simhash // {1 << shift}) % {1 << width} AS key FROM sims"
    for b, (shift, width) in enumerate(simhash_blocks(SIMHASH_BITS, 3))
)

_SHINGLES_SQL = f"""
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
  FROM ({_TOKS_SQL}) WHERE len(t) >= 3
"""

# Candidate-bounded EXACT-Jaccard oracle: the
# exact-Jaccard oracles previously verified with an all-pairs
# list_intersect join — O(n²·|s|), 502 s at sf0.1, dwarfing the engine's
# entire 207-query bench. Because shingle lists are list_distinct SETS,
# counting shared postings per pair is EXACTLY |intersection|, and a
# pair at jaccard >= 0.5 > 0 must share at least one shingle — so the
# postings-join form enumerates precisely the same pairs with
# bit-identical jaccard values (same integer operands, same DOUBLE
# division), at candidate-bounded cost that tracks the engine's own
# inverted-index plan instead of the corpus squared.
_EXACT_JACCARD_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    inv AS (SELECT doc_id, len(s) AS sz, {_MD5INT.format(x="u.x")} AS shingle
            FROM sh, unnest(sh.s) u(x)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS inter
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           inter::DOUBLE / (sz_a + sz_b - inter) AS jaccard
    FROM inter WHERE inter::DOUBLE / (sz_a + sz_b - inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_token_stats",
    # Degenerate docs are pinned identically on both sides (null/empty text
    # → 0 tokens; mean of zero tokens → NULL), so parity can't silently
    # depend on the testdata containing no such rows.
    oracle=f"""
    SELECT doc_id,
           coalesce(len(t), 0)::BIGINT AS n_tokens,
           coalesce(list_sum(list_transform(t, w -> ceil(length(w) / 4.0)::BIGINT)), 0)::BIGINT AS n_tokens_bpe,
           CASE WHEN coalesce(len(t), 0) = 0 THEN NULL
                ELSE round(list_sum(list_transform(t, w -> length(w)))::DOUBLE / len(t), 6)
           END AS mean_word_len
    FROM ({_TOKS_SQL})
    """,
    doc="Token counting: whitespace tokens + BPE-ish subword estimate + mean word length",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import (
        mean_word_length_from_tokens,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the three stats each tokenized inline (~5
    # evaluations/row through interpreted HOF slots, which get no
    # codegen CSE); materialize the token array once per row — the
    # two-stage text_lang_id pattern — and derive all three from the
    # attribute.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    tk = F.col("__toks")
    n = F.coalesce(F.size(tk), F.lit(0)).cast("long")
    bpe = F.aggregate(
        tk, F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / 4).cast("int")
    )
    return toked.select(
        "doc_id",
        n.alias("n_tokens"),
        F.coalesce(bpe, F.lit(0)).cast("long").alias("n_tokens_bpe"),
        F.when(n > 0, F.round(mean_word_length_from_tokens(tk), 6)).alias(
            "mean_word_len"
        ),
    )


# Quality-score SQL, shared by text_quality_score and
# dedup_canonical_quality (plans/mining.py) — the formula must live in
# exactly one place per engine (the Spark twin is
# operators/text.py::quality_score_from_tokens).
_QUALITY_M_SQL = f"""
      SELECT doc_id,
             len(t) AS n,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]{{}}-]', '', 'g')))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct,
             CASE WHEN len(t) > 0
                  THEN len(list_filter(t, x -> x IN ('the','a','of','and','is')))::DOUBLE / len(t)
                  ELSE 0.0 END AS sw,
             CASE WHEN len(t) > 0
                  THEN list_sum(list_transform(t, w -> length(w)))::DOUBLE / len(t)
                  ELSE 0.0 END AS mwl
      FROM toks
"""
_QUALITY_EXPR_SQL = """round((least(n / 50.0, 1.0)
                  + (1 - least(punct * 5, 1.0))
                  + least(sw * 4, 1.0)
                  + CASE WHEN mwl >= 3 AND mwl <= 8 THEN 1.0 ELSE 0.5 END) / 4, 6)"""


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    m AS ({_QUALITY_M_SQL})
    SELECT doc_id,
           round(punct, 6) AS punct_ratio,
           round(sw, 6) AS stopword_ratio,
           {_QUALITY_EXPR_SQL} AS quality
    FROM m
    """,
    doc="Document quality scoring: length / punctuation density / stopword fluency / word-length plausibility",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import (
        quality_score_from_tokens,
        stopword_ratio_from_tokens,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # tokenize + punct-scan once (each referenced >1 time downstream →
    # CollapseProject keeps them materialized)
    return docs.select(
        "doc_id", t, tokens(t).alias("toks"), punct_ratio(t).alias("pr")
    ).select(
        "doc_id",
        F.round(F.col("pr"), 6).alias("punct_ratio"),
        F.round(stopword_ratio_from_tokens(F.col("toks")), 6).alias("stopword_ratio"),
        F.round(
            quality_score_from_tokens(t, F.col("toks"), punct=F.col("pr")), 6
        ).alias("quality"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    s AS (
      SELECT doc_id, lang,
             len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
             len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
             len(list_filter(t, x -> x IN ('el','la','de'))) AS s_es,
             len(list_filter(t, x -> x IN ('le','la','et'))) AS s_fr,
             len(list_filter(t, x -> x IN ('的','是','了'))) AS s_zh
      FROM toks
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM s
    """,
    doc="Language-ID heuristic: stopword-profile argmax with deterministic tie-break",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # two-stage: materialize the token array once (referenced 5× downstream,
    # so CollapseProject keeps it), then one array_max argmax over profiles
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "labeled_lang",
        lang_id_from_tokens(F.col("toks")).alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL})
    SELECT doc_id,
           md5(coalesce(array_to_string(list_sort(list_distinct(t)), ' '), '')) AS fingerprint,
           {_MD5INT.format(x="coalesce(array_to_string(list_sort(list_distinct(t)), ' '), '')")} AS fingerprint_int
    FROM toks
    """,
    doc="Document fingerprinting: order/repetition-invariant bag-of-words hash (string + portable int64)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    from petfinder_database_distributor_spark.operators.text import distinct_tokens

    # both output hashes are md5 over the SAME sorted
    # distinct-token bag; materialize the bag once per row instead of
    # running the tokenize+distinct+sort chain twice (referenced 2x, so
    # CollapseProject keeps the two-stage shape).
    sorted_bag = F.concat_ws(" ", F.array_sort(distinct_tokens(t)))
    bagged = docs.select("doc_id", sorted_bag.alias("__bag"))
    return bagged.select(
        "doc_id",
        F.md5(F.col("__bag")).alias("fingerprint"),
        md5int(F.col("__bag")).alias("fingerprint_int"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    f AS (SELECT doc_id, md5(coalesce(array_to_string(list_sort(list_distinct(t)), ' '), '')) AS fingerprint
          FROM toks)
    SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS group_size
    FROM f GROUP BY fingerprint
    """,
    doc="Exact dedup by content fingerprint: hash-groupBy, min-id representative",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    # Posture-independent oracle: direct and salted are both EXACT, so the
    # chooser never changes results — only the shuffle layout. The oracle
    # is the candidate-bounded postings-join form (identical hash to the
    # retired all-pairs form; see _EXACT_JACCARD_ORACLE).
    oracle=_EXACT_JACCARD_ORACLE,
    doc="EXACT near-dup pairs by 3-gram Jaccard; the unqualified name is the "
    "deployable chooser: it measures Σdf² and picks the "
    "direct postings join when small, the salted two-phase join when "
    "duplication would skew-bind a reducer — never the unguarded baseline",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_auto(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_ngram_jaccard_baseline",
    oracle=_EXACT_JACCARD_ORACLE,
    doc="The raw direct-join exact form, Σdf²-guarded (refuses above "
    "max_join_rows instead of launching a skewed shuffle) — kept as the "
    "mutual-witness parity baseline; deploy dedup_ngram_jaccard instead",
)
def dedup_ngram_jaccard_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


# df-capped inverted-index intersection counts — shared by the capped
# Jaccard oracle and dedup_ngram_containment (plans/mining.py): the
# posting/cap/join block must live in one place per engine.
_CAPPED_INTER_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    inv AS (SELECT doc_id, len(s) AS sz, {_MD5INT.format(x="u.x")} AS shingle
            FROM sh, unnest(sh.s) u(x)),
    keep AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 64),
    capped AS (SELECT i.* FROM inv i JOIN keep k ON i.shingle = k.shingle),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS inter
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
"""


@register(
    "dedup_ngram_jaccard_capped",
    # The oracle mirrors the cap: shingles with df > 64 are dropped from
    # postings AND from intersection counts; sizes stay full, so Jaccard
    # underestimates conservatively (no false positives).
    oracle=f"""
    {_CAPPED_INTER_SQL}
    SELECT id_a, id_b,
           inter::DOUBLE / (sz_a + sz_b - inter) AS jaccard
    FROM inter WHERE inter::DOUBLE / (sz_a + sz_b - inter) >= 0.5
    """,
    doc="The df-capped inverted-index Jaccard (df_cap=64): the Σdf² postings "
    "bound is quadratic in duplication (8x replicas → 19x wall uncapped), so "
    "the scale posture drops hot-shingle postings before the join — "
    "conservative (Jaccard only underestimates), near-linear scaling",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, df_cap=64)


@register(
    "dedup_ngram_jaccard_salted",
    # Salting only changes execution layout, never results — the oracle is
    # the SAME candidate-bounded exact-Jaccard SQL as dedup_ngram_jaccard.
    oracle=_EXACT_JACCARD_ORACLE,
    doc="EXACT n-gram Jaccard with the salted two-phase postings join "
    "(hot_cap=64): shingles hotter than the cap are bucketed into "
    "ceil(df/cap) id-hash salts and joined on (shingle, i, j), so every "
    "pair still meets exactly once but the quadratic hot-shingle work "
    "spreads evenly across reducers instead of serializing on one — the "
    "deployable plan for users who need exact (not capped) Jaccard; the "
    "uncapped form's guard points here",
)
def dedup_ngram_jaccard_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, hot_cap=64)


_MINHASH_SQL = f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    sh AS (SELECT doc_id,
                  list_transform(s, x -> {_MD5INT.format(x="x")}) AS s
           FROM sh0),
    hx AS (SELECT doc_id, u.x % 2147483647 AS h
           FROM sh, unnest(sh.s) u(x)),
    sig AS (SELECT doc_id, r.i AS i,
                   min(((2 * r.i + 1) * h + (17 * r.i + 3)) % 2147483647) AS m
            FROM hx, range(0, 32) r(i) GROUP BY doc_id, r.i),
    bands AS (SELECT doc_id, i // 2 AS band,
                     {_MD5INT.format(x="string_agg(m::VARCHAR, ',' ORDER BY i)")} AS bh
              FROM sig GROUP BY doc_id, i // 2),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b,
           len(list_intersect(x.s, y.s))::DOUBLE
             / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
    FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
    WHERE len(list_intersect(x.s, y.s))::DOUBLE
            / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_SQL,
    doc="MinHash(k=32)+LSH(16 bands × 2 rows) near-dup pairs with exact-Jaccard verification — the 100 TB dedup shape",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    hx AS (SELECT doc_id, {_MD5INT.format(x="u.x")} AS h
           FROM (SELECT doc_id, list_distinct(t) AS dt FROM toks) d, unnest(d.dt) u(x)),
    bits AS (SELECT doc_id, r.j AS j,
                    CASE WHEN sum(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                         THEN (1::BIGINT << r.j) ELSE 0 END AS b
             FROM hx, range(0, {SIMHASH_BITS}) r(j) GROUP BY doc_id, r.j)
    SELECT t.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
    FROM (SELECT DISTINCT doc_id FROM toks WHERE doc_id IS NOT NULL) t
    LEFT JOIN (SELECT doc_id, sum(b)::BIGINT AS simhash FROM bits
               GROUP BY doc_id) s ON t.doc_id = s.doc_id
    """,
    doc="60-bit SimHash signatures over distinct tokens (portable md5int hash). "
    "NULL doc_id rows are excluded EXPLICITLY: a signature without an id can "
    "never join into a candidate pair, and the oracle's id-equality join "
    "would silently pin such rows to 0 while Spark computed a real signature.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return simhash_signatures(docs, "doc_id", "text")


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    hx AS (SELECT doc_id, {_MD5INT.format(x="u.x")} AS h
           FROM (SELECT doc_id, list_distinct(t) AS dt FROM toks) d, unnest(d.dt) u(x)),
    bits AS (SELECT doc_id, r.j AS j,
                    CASE WHEN sum(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                         THEN (1::BIGINT << r.j) ELSE 0 END AS b
             FROM hx, range(0, {SIMHASH_BITS}) r(j) GROUP BY doc_id, r.j),
    sims AS (SELECT t.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
             FROM (SELECT DISTINCT doc_id FROM toks) t
             LEFT JOIN (SELECT doc_id, sum(b)::BIGINT AS simhash FROM bits
                        GROUP BY doc_id) s ON t.doc_id = s.doc_id),
    blocks AS ({_SIMHASH_BLOCKS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sim_a,
                             b.doc_id AS id_b, b.simhash AS sim_b
             FROM blocks a JOIN blocks b
               ON a.half = b.half AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 2
    """,
    doc="60-bit SimHash near-dup pairs via 3-block pigeonhole blocking "
    "(d<=2 needs max_hamming+1 blocks; 20-bit keys keep the candidate set "
    "near-linear) + exact hamming verify",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=2)


_COS_SQL = (
    "list_inner_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_inner_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_inner_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

# The banded-SRP planes are driver-side Python constants (splitmix64 —
# see operators/similarity.py::srp_plane_matrix), inlined as literals into
# the oracle so both engines use the exact same integer coefficients.
_SRP_PLANES_VALUES = ",\n      ".join(
    f"({i}, {row}::DOUBLE[])" for i, row in enumerate(srp_plane_matrix(64, 64))
)
# 128 planes (16 bands × 8 bits) for the ANN top-k query — same splitmix64
# family, longer prefix.
_SRP_PLANES128_VALUES = ",\n      ".join(
    f"({i}, {row}::DOUBLE[])" for i, row in enumerate(srp_plane_matrix(128, 64))
)


@register(
    "dedup_embedding_cosine",
    # The oracle mirrors the banded-SRP blocking (as the simhash/minhash
    # oracles mirror theirs): integer plane coefficients × round(1000*x)
    # quantized vectors (exact — sums < 2^53, so double accumulation can't
    # flip a sign) → 8 bands × 8 sign bits → candidate on any band match →
    # exact cosine verify on the original vectors.
    oracle=f"""
    WITH planes AS (
      SELECT * FROM (VALUES
      {_SRP_PLANES_VALUES}) pl(i, p)
    ),
    qvecs AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> round(1000 * x)) AS qe
      FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    banded AS (
      SELECT q.vec_id, pl.i // 8 AS band,
             sum(CASE WHEN list_inner_product(q.qe, pl.p) >= 0
                      THEN (1::BIGINT << (pl.i % 8)) ELSE 0 END)::BIGINT AS key
      FROM qvecs q, planes pl GROUP BY q.vec_id, pl.i // 8
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
                                  AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             {_COS_SQL.format(a="ea.embedding", b="eb.embedding")} AS cos
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    )
    SELECT id_a, id_b, round(cos, 6) AS cos_r FROM pairs WHERE cos >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs via banded SRP-LSH (8 bands x 8 bits, "
    "exact cosine verify) — candidates flow through a band+key equi-join, never "
    "an all-pairs product; see operators/similarity.py::embedding_neardup_pairs",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = _load_embeddings(spark, sf_dir)
    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, bands=8, band_bits=8, dim=64
    )


@register(
    "dedup_embedding_cosine_exact",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_r
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
    """,
    doc="Exact all-pairs cosine baseline, EXPLICITLY SIZE-GUARDED (refuses "
    "above 100k vectors): the ground-truth recall reference for the banded-"
    "LSH path, not a scale path — dedup_embedding_cosine is",
)
def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.util import parquet_num_rows

    from petfinder_database_distributor_spark.util import execution_guard

    emb = _load_embeddings(spark, sf_dir).filter(F.col("vec_id") % 4 == 0)
    # Two-layer size guard: all-pairs is O(n²) — baseline only.
    # Layer 1 (plan-build, free): footer-metadata count over the raw table
    # (no Spark job: a guard action at plan-build time costs a whole
    # job before the query runs). The plan scores the
    # vec_id % 4 == 0 quarter, so the ~100k-scored budget corresponds to
    # 400k RAW rows — IF residues are uniform.
    n = parquet_num_rows(sf_dir, "embeddings")
    if n > 400_000:
        raise ValueError(
            f"dedup_embedding_cosine_exact is an all-pairs baseline; {n} raw rows"
            f" (~{n // 4} scored vectors after the %4 sample) exceed the 400k-raw"
            " guard — use dedup_embedding_cosine (banded SRP-LSH)"
        )
    # Layer 2 (deferred, exact): ids skewed toward multiples of 4 (key-
    # offset replication, 4-aligned generators) could pass layer 1 with up
    # to 400k SCORED vectors. A scalar-subquery assert counts the filtered
    # side at execution — zero jobs at plan-build, fails fast before the
    # cross join materializes.
    scored = emb.agg(F.count(F.lit(1))).scalar()
    emb = execution_guard(
        emb,
        F.coalesce(scored, F.lit(0)) <= F.lit(100_000),
        F.format_string(
            "dedup_embedding_cosine_exact: %s scored vectors exceed the 100k"
            " all-pairs budget (raw-count guard passed but vec_id residues are"
            " skewed toward multiples of 4) — use dedup_embedding_cosine",
            scored,
        ),
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    c = cosine(as_double(F.col("va")), as_double(F.col("vb")))
    return pairs.select("id_a", "id_b", c.alias("cos")).filter(
        F.col("cos") >= 0.4
    ).select("id_a", "id_b", F.round(F.col("cos"), 6).alias("cos_r"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_ANN_QUERIES_SQL = "SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0"


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS ({_ANN_QUERIES_SQL}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_inner_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[])
               / (sqrt(list_inner_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))
                  * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
      FROM q, embeddings e WHERE q.query_id <> e.vec_id
            AND e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x <> 0)) > 0
    )
    SELECT query_id, vec_id, rank, round(cos, 6) AS cos_r
    FROM (SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="Exact cosine top-5 per query (broadcast queries, map-side scores, one window shuffle)",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return brute_force_topk(queries, emb, k=5)


@register(
    "ann_lsh_topk",
    # Mirrors lsh_topk's banded multi-probe construction: 128 splitmix64
    # integer planes (literal VALUES, identical in both engines) ×
    # quantized vectors → 16 bands × 8 sign bits; the query side probes the
    # exact key plus every 1-bit flip (xor) per band; candidate on any
    # probed-band match; exact cosine rank. Recall@5 vs brute force is
    # pinned in tests/test_ann_recall.py.
    oracle=f"""
    WITH planes AS (
      SELECT * FROM (VALUES
      {_SRP_PLANES128_VALUES}) pl(i, p)
    ),
    qvecs AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> round(1000 * x)) AS qe
      FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    banded AS (
      SELECT q.vec_id, pl.i // 8 AS band,
             sum(CASE WHEN list_inner_product(q.qe, pl.p) >= 0
                      THEN (1::BIGINT << (pl.i % 8)) ELSE 0 END)::BIGINT AS key
      FROM qvecs q, planes pl GROUP BY q.vec_id, pl.i // 8
    ),
    qb AS (SELECT b.vec_id AS query_id, b.band,
                  CASE WHEN r.j = 0 THEN b.key
                       ELSE xor(b.key, 1::BIGINT << (r.j - 1)) END AS key
           FROM banded b, range(0, 9) r(j) WHERE b.vec_id < 8),
    cand AS (
      SELECT DISTINCT qb.query_id, c.vec_id
      FROM qb JOIN banded c ON qb.band = c.band AND qb.key = c.key
                            AND qb.query_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             {_COS_SQL.format(a="eq.embedding", b="ec.embedding")} AS cos
      FROM cand
      JOIN embeddings eq ON eq.vec_id = cand.query_id
      JOIN embeddings ec ON ec.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, rank, round(cos, 6) AS cos_r
    FROM (SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="Banded multi-probe SRP-LSH ANN top-5 (16 bands x 8 sign bits, 1-bit "
    "query-side probes, any-band candidate, exact cosine rank): bounded "
    "candidates per query via (band, key) equi-joins only — the scale "
    "path; measured recall@5 0.875 pinned in tests",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return lsh_topk(queries, emb, k=5, bands=16, band_bits=8, dim=64, probe_bits=1)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(coalesce(text, '')))::BIGINT AS n_bytes,
           sha256(coalesce(text, '')) AS checksum,
           'application/octet-stream' AS media_type
    FROM documents
    """,
    doc="Multimodal column pattern: opaque binary payload + typed metadata (bytes, checksum)",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return attach_binary_payload(docs, "doc_id", "text").select(
        "doc_id", F.col("n_bytes").cast("long").alias("n_bytes"), "checksum", "media_type"
    )


@register(
    "mm_decode_features",
    # The fake decode's dims derive from octet_length, so DuckDB can verify
    # them exactly; the 16-bin histogram itself is an ArrayType the driver's
    # canonicalizer can't sort, so the registered projection reduces it to
    # hist_sum (== payload bytes — proves the histogram covered every byte).
    # Exact per-bin values are asserted in tests/test_multimodal.py.
    oracle="""
    SELECT doc_id,
           (64 + octet_length(encode(coalesce(text, ''))) % 577)::INT AS width,
           (64 + octet_length(encode(coalesce(text, ''))) % 433)::INT AS height,
           (1 + octet_length(encode(coalesce(text, ''))) % 30)::INT AS n_frames,
           octet_length(encode(coalesce(text, '')))::BIGINT AS hist_sum
    FROM documents
    """,
    doc="Arrow-batched mapInPandas decode/feature-extract over binary payloads (deterministic fake decode; see operators/multimodal.py)",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    feats = decode_features(payloads, "doc_id", "payload")
    return feats.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        F.aggregate(
            "byte_histogram", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("hist_sum"),
    )


@register(
    "dedup_multimodal_phash",
    oracle="""
    WITH pl AS (SELECT doc_id, encode(coalesce(text, '')) AS p
                FROM documents WHERE doc_id IS NOT NULL),
    hx AS (SELECT doc_id, hex(p) AS h, octet_length(p)::BIGINT AS n FROM pl),
    bv AS (SELECT doc_id, n,
                  unnest([{'k': k,
                           'v': (strpos('0123456789ABCDEF', h[2*k+1]) - 1) * 16
                                + strpos('0123456789ABCDEF', h[2*k+2]) - 1}
                          for k in range(0, n)]) AS s
           FROM hx),
    gr AS (SELECT doc_id, ((s.k * 64) // n)::BIGINT AS strip,
                  sum(s.v)::BIGINT AS gray
           FROM bv GROUP BY 1, 2),
    grid AS (SELECT hx.doc_id, r.i::BIGINT AS strip FROM hx, range(0, 64) r(i)),
    g2 AS (SELECT grid.doc_id, grid.strip, coalesce(gr.gray, 0)::BIGINT AS gray
           FROM grid LEFT JOIN gr ON gr.doc_id = grid.doc_id
                                 AND gr.strip = grid.strip),
    ph AS (SELECT a.doc_id,
                  coalesce(sum(CASE WHEN a.gray > b.gray
                               THEN 1::BIGINT << a.strip::INT ELSE 0 END),
                           0)::BIGINT AS phash
           FROM g2 a JOIN g2 b ON b.doc_id = a.doc_id AND b.strip = a.strip + 1
           WHERE a.strip < 63
           GROUP BY 1),
    bands AS (SELECT doc_id, phash, r.b AS band,
                     (phash >> (16 * r.b)::INT)
                       & CASE WHEN r.b = 3 THEN 32767 ELSE 65535 END AS key
              FROM ph, range(0, 4) r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, a.phash AS ph_a,
                             b.doc_id AS id_b, b.phash AS ph_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, bit_count(xor(ph_a, ph_b))::INT AS hamming
    FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3
    """,
    doc="Multimodal dedup — the fourth candidate-generation modality "
    "beside lexical (MinHash-LSH), embedding (SRP-LSH) and semantic "
    "(SemDeDup): perceptual dHash over the DECODED payloads (the "
    "mm_decode_features fake-decode plumbing — a 64-strip exact "
    "byte-sum gray thumbnail standing in for PIL's 9x8 grayscale; "
    "every real 100 TB image corpus runs exactly this shape), 63 "
    "adjacent-gradient bits, then the SimHash multi-index pigeonhole: "
    "4 bands of ~16 bits, any pair within hamming 3 agrees exactly on "
    "one band, candidates are a band+key equi-join (never all-pairs), "
    "exact bit_count(xor) verifies. Only the 8-byte hash shuffles; "
    "payload bytes stay map-side. The oracle re-derives the strip "
    "sums per byte from hex(payload) — bit-identical cross-engine.",
)
def dedup_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.multimodal import (
        phash_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    return phash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)


_IVF_COS = (
    "list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a}))"
    " * sqrt(list_inner_product({b}, {b})))"
)

_PQ_ASSIGN = """
  SELECT vec_id, m, sv, j FROM (
    SELECT s.vec_id, s.m, s.sv, c.j,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             list_inner_product(s.sv, s.sv)
               - 2 * list_inner_product(s.sv, c.cw)
               + list_inner_product(c.cw, c.cw), c.j) AS rn
    FROM sv s JOIN {cb} c ON s.m = c.m) WHERE rn = 1
"""

_PQ_UPDATE = """
  SELECT m, j, list(round(s / n)::BIGINT ORDER BY i) AS cw FROM (
     SELECT a.m, a.j, r.i, sum(a.sv[r.i + 1]) AS s, count(*) AS n
     FROM {assigned} a, range(0, 8) r(i) GROUP BY 1, 2, 3) GROUP BY m, j
"""


_IVFPQ_ASSIGN = f"""
  SELECT vec_id, qe, centroid_id FROM (
    SELECT v.vec_id, v.qe, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_IVF_COS.format(a="v.qe", b="c.icvec")} DESC,
                                       c.centroid_id) AS rn
    FROM {{vecs}} v, {{cents}} c) WHERE rn = 1
"""

_IVFPQ_UPDATE = """
  SELECT centroid_id, list(round(s / n)::BIGINT ORDER BY i) AS icvec FROM (
    SELECT centroid_id, r.i, sum(qe[r.i + 1]) AS s, count(*) AS n
    FROM {assigned}, range(0, 64) r(i) GROUP BY 1, 2) GROUP BY 1
"""


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[], x -> round(x * 1000)) AS qe
               FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0),
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
    codes AS ({_PQ_ASSIGN.format(cb="cb1")}),
    qq AS (SELECT vec_id AS query_id, qe FROM q WHERE vec_id < 8),
    probes AS (
      SELECT query_id, centroid_id, ipqc FROM (
        SELECT qq.query_id, c.centroid_id,
               list_inner_product(qq.qe, c.icvec)::BIGINT AS ipqc,
               row_number() OVER (PARTITION BY qq.query_id
                                  ORDER BY {_IVF_COS.format(a="qq.qe", b="c.icvec")} DESC,
                                           c.centroid_id) AS rn
        FROM qq, c1 c) WHERE rn <= 4),
    qsv AS (SELECT vec_id AS query_id, r.m, qe[r.m*8+1 : r.m*8+8] AS sv
            FROM q, range(0, 8) r(m) WHERE vec_id < 8),
    lut AS (SELECT qs.query_id, qs.m, c.j,
                   list_inner_product(qs.sv, c.cw)::BIGINT AS ip
            FROM qsv qs JOIN cb1 c ON qs.m = c.m),
    adc AS (SELECT p.query_id, f.vec_id,
                   (max(p.ipqc) + sum(l.ip))::BIGINT AS approx
            FROM probes p
            JOIN ivf f USING (centroid_id)
            JOIN codes cd ON cd.vec_id = f.vec_id
            JOIN lut l ON l.query_id = p.query_id
                      AND l.m = cd.m AND l.j = cd.j
            WHERE p.query_id <> f.vec_id
            GROUP BY 1, 2),
    cand AS (SELECT query_id, vec_id FROM (
       SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
              ORDER BY approx DESC, vec_id) AS rn FROM adc) WHERE rn <= 64),
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
    doc="IVF+PQ ANN top-5 — the two scale levers composed (FAISS-IVFPQ "
    "shape): a 16-cell inverted file bounds VECTORS TOUCHED per query "
    "(4-probe), per-cell RESIDUAL product quantization bounds BYTES PER "
    "VECTOR (8 codes vs 256+ raw), so a query's work is nprobe "
    "cell-scans of a few bytes/vector + one tiny per-query LUT; exact "
    "cosine re-rank of the top-64. Residual encoding spends the "
    "codebook on within-cell variance, the part plain PQ wastes on the "
    "centroid direction. All exact integer arithmetic (quantized "
    "vectors, re-quantized integer centroids AND codewords), so the "
    "iterative pipeline is bit-reproducible cross-engine; recall@5 is "
    "pinned in tests/test_ann_recall.py. operators/similarity.py::"
    "ivf_pq_topk.",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = _load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_pq_topk(queries, emb, k=5)


@register(
    "text_bigram_tf",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    bg AS (SELECT doc_id, [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS b
           FROM toks WHERE len(t) >= 2)
    SELECT bigram, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, u.x AS bigram FROM bg, unnest(bg.b) u(x))
    GROUP BY bigram
    HAVING count(*) >= 20
    """,
    doc="Corpus n-gram term/document frequency: tokenize → bigrams (shifted "
    "zip_with) → explode → one hash-agg; HAVING keeps the hot tail bounded",
)
def text_bigram_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import shingles, tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # non-distinct bigrams: shingles() dedups, so build the raw list here.
    # Token array materialized in its OWN projection:
    # the zip/slice/size slots below reference it 4x, and interpreted
    # HOFs get no codegen CSE — inline, every document tokenized 4x/row.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, shifted, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    exploded = toked.select("doc_id", F.explode(bigrams).alias("bigram"))
    return (
        exploded.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("tf") >= 20)
    )


@register(
    "agg_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct counts per group (expand+two-phase agg); the HLL "
    "sketch variant (approx_count_distinct) is asserted within 5% in "
    "tests/test_sketches.py — sketches can't hash-match across engines",
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH meta AS (SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n FROM documents)
    SELECT m.doc_id, r.i::INT AS frame_idx, (m.n * 31 + r.i) % 997 AS frame_feature
    FROM meta m, range(0, 30) r(i)
    WHERE r.i < least(1 + m.n % 30, 4)
    """,
    doc="Multimodal frame sampling: one-to-many Arrow-batched mapInPandas "
    "(payload -> per-frame rows), deterministic fake decode so the fan-out "
    "itself is value-checked",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    return sample_frames(payloads, "doc_id", "payload", max_frames=4)


@register(
    "mm_resize",
    # out dims / sample count are pure functions of octet_length -> full
    # oracle; the resampled histogram itself is pinned in
    # tests/test_multimodal.py (ArrayType doesn't survive the driver canon).
    oracle="""
    SELECT doc_id,
           least(64 + octet_length(encode(coalesce(text, ''))) % 577, 32)::INT AS out_width,
           least(64 + octet_length(encode(coalesce(text, ''))) % 433, 32)::INT AS out_height,
           ((octet_length(encode(coalesce(text, ''))) + 3) // 4)::INT AS n_sampled,
           ((octet_length(encode(coalesce(text, ''))) + 3) // 4)::BIGINT AS sampled_sum
    FROM documents
    """,
    doc="Multimodal resize plumbing: strided byte resample (deterministic fake "
    "for PIL resize) via Arrow-batched mapInPandas; dims clamp to the 32px "
    "target, histogram re-derived over sampled bytes (operators/multimodal.py)",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.multimodal import (
        resize_payloads,
    )

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "doc_id", "text")
    out = resize_payloads(payloads, "doc_id", "payload", target=32, stride=4)
    return out.select(
        "doc_id",
        "out_width",
        "out_height",
        "n_sampled",
        F.aggregate(
            "sampled_histogram", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sampled_sum"),
    )


@register(
    "text_chunking",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    idx AS (SELECT doc_id, t, unnest(range(0, len(t) // 16 + 1)) AS i
            FROM toks WHERE len(t) > 0)
    SELECT doc_id, i::INT AS chunk_idx,
           array_to_string(t[i * 16 + 1 : i * 16 + 32], ' ') AS chunk,
           least(32, len(t) - i * 16)::INT AS chunk_len
    FROM idx WHERE i = 0 OR i * 16 + 16 < len(t)
    """,
    doc="Document chunking for LLM context windows: overlapping token windows "
    "(size 32, stride 16) via sequence+slice — the standard pre-embedding "
    "splitter; narrow, no shuffle",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    window, stride = 32, 16
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # pushdown_barrier: without it the size(t) > 0
    # filter pushes below this projection with the tokenize tree inlined
    # — every document tokenized twice per row.
    from petfinder_database_distributor_spark.util import pushdown_barrier

    toked = docs.select(
        "doc_id", pushdown_barrier(tokens(F.col("text"))).alias("t")
    ).filter(F.size("t") > 0)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.size("t") - window).cast("double") / stride).cast("int") + 1
    )
    chunked = toked.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("t"), F.col("chunk_idx") * stride + 1, window)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.concat_ws(" ", piece).alias("chunk"),
        F.size(piece).cast("int").alias("chunk_len"),
    )


@register(
    "text_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace('contact user' || doc_id || '@example.com or +1-555-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' : ' || text,
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
    doc="PII scrubbing: email + phone regex redaction (JVM regexp_replace, "
    "codegen'd) over text with synthetically injected PII so the rule "
    "actually fires on every row",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"), F.lit(" : "), F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            with_pii, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        ),
        r"\+?[0-9][0-9()\-\s]{6,}[0-9]",
        "<PHONE>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "split_train_test",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN ({_MD5INT.format(x="'split:' || doc_id")}) % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n
    FROM tagged GROUP BY lang, split
    """,
    doc="Deterministic train/test split: salt-hashed id mod 100 — stable "
    "across runs, engines and cluster sizes (never rand()); per-language "
    "split sizes as the check",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5int(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return (
        docs.select(
            "lang", F.when(bucket < 80, "train").otherwise("test").alias("split")
        )
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tri AS (SELECT doc_id,
                   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS g
            FROM toks WHERE len(t) >= 3)
    SELECT doc_id,
           len(g)::BIGINT AS n_trigrams,
           len(list_distinct(g))::BIGINT AS n_distinct,
           round(1 - len(list_distinct(g))::DOUBLE / len(g), 6) AS repetition
    FROM tri
    """,
    doc="Repetition-based quality signal: 1 - distinct/total trigram ratio "
    "(the boilerplate/spam detector in C4/CCNet-style filtering)",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    from petfinder_database_distributor_spark.util import pushdown_barrier

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # the trigram forest references the token
    # array 6x from interpreted HOF slots (no codegen CSE) — materialize
    # it in its own projection; and the size(g) > 0 filter would push
    # below the g-projection with the whole tree inlined — the barrier
    # keeps it reading the computed attribute.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    shifted1 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    shifted2 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
    raw = F.filter(
        F.zip_with(
            F.zip_with(toks, shifted1, lambda a, b: F.concat(a, F.lit(" "), b)),
            shifted2,
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
        lambda x: x.isNotNull(),
    )
    out = toked.select(
        "doc_id", pushdown_barrier(raw).alias("g")
    ).filter(F.size("g") > 0)
    return out.select(
        "doc_id",
        F.size("g").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("g")).cast("long").alias("n_distinct"),
        F.round(
            1 - F.size(F.array_distinct("g")).cast("double") / F.size("g"), 6
        ).alias("repetition"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ({_MD5INT.format(x="'samp:' || doc_id")}), doc_id) AS rn
      FROM documents)
    SELECT lang, doc_id FROM ranked WHERE rn <= 10
    """,
    doc="Deterministic stratified sampling: exactly 10 docs per language, "
    "chosen by salted-hash order (reproducible across engines/cluster sizes, "
    "never rand()); one window shuffle on the stratum key",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = md5int(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id")
    )


@register(
    "decontamination_check",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    f AS (SELECT doc_id,
                 md5(coalesce(array_to_string(list_sort(list_distinct(t)), ' '), '')) AS fp,
                 CASE WHEN ({_MD5INT.format(x="'split:' || doc_id")}) % 100 < 80
                      THEN 'train' ELSE 'test' END AS split
          FROM toks)
    SELECT tr.doc_id AS train_id, te.doc_id AS test_id, tr.fp AS fingerprint
    FROM f tr JOIN f te ON tr.fp = te.fp AND tr.split = 'train' AND te.split = 'test'
    """,
    doc="Train/test decontamination: content-fingerprint equi-join across the "
    "deterministic split — every train doc whose exact content also appears "
    "in test (the eval-leakage scan every training pipeline needs)",
)
def decontamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5int(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    f = docs.select(
        "doc_id",
        bag_of_words_fingerprint(F.col("text")).alias("fp"),
        F.when(bucket < 80, "train").otherwise("test").alias("split"),
    )
    tr = f.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), "fp"
    )
    te = f.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_id"), "fp"
    )
    return tr.join(te, on="fp").select(
        "train_id", "test_id", F.col("fp").alias("fingerprint")
    )


@register(
    "udtf_chunk_documents",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    idx AS (SELECT doc_id, t, unnest(range(0, len(t) // 16 + 1)) AS i
            FROM toks WHERE len(t) > 0)
    SELECT doc_id, i::INT AS chunk_idx,
           array_to_string(t[i * 16 + 1 : i * 16 + 32], ' ') AS chunk,
           least(32, len(t) - i * 16)::INT AS chunk_len
    FROM idx WHERE i = 0 OR i * 16 + 16 < len(t)
    """,
    doc="Same chunking semantics as text_chunking, but through Spark's "
    "Python UDTF surface (one doc row -> many chunk rows via LATERAL "
    "correlated table function) — the API the reference's P3 "
    "link-extractor is morally an instance of (link_scraper.py:66-152). "
    "Kept row-at-a-time deliberately to exercise the UDTF codepath; the "
    "expression-based text_chunking is the 100 TB hot path",
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    window, stride = 32, 16

    @udtf(returnType="chunk_idx int, chunk string, chunk_len int")
    class ChunkDoc:
        def eval(self, text: str):
            import re

            toks = [w for w in re.split(r"\s+", (text or "").strip().lower()) if w]
            if not toks:
                return
            n_chunks = max(1, -(-(len(toks) - window) // stride) + 1)
            for i in range(n_chunks):
                piece = toks[i * stride : i * stride + window]
                yield i, " ".join(piece), len(piece)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.chunk_len
        FROM v_docs_udtf d, LATERAL chunk_doc(d.text) c
        """
    )


_BM25_TERMS = ("spark", "merge", "vector")


def _bm25_term_score(i: int):
    """One BM25 term of the exact-rational form used by
    search_bm25_topk.

    Overflow envelope (see tests/test_overflow_audit.py): the rational
    numerator (2n-2df+1)*22*tf*tt overflows BIGINT once n*tt crosses
    ~2^63/22/tf — reachable around 3e7 docs x 2e9 tokens, far below
    100 TB corpus shapes. Under ANSI mode (the Spark 4.x default) the
    whole query then HARD-FAILS with ARITHMETIC_OVERFLOW (verified
    executable in tests/test_overflow_audit.py); under legacy non-ANSI
    it wraps silently. Either way wrong at scale, so both engines widen to
    exact 128-bit/decimal(38,0) arithmetic (operands peak ~4e29 at a
    1e10-doc/1e14-token corpus, inside decimal(38)'s ~1e38) before ONE
    correctly-rounded cast-to-double each for num and den. At driver
    scales every product stays under 2^53, where the decimal->double
    cast is exact in both engines — bit-identical to the original
    BIGINT form (hash-verified), so the oracle contract is unchanged."""
    tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
    n, tt, dl = F.col("n"), F.col("tt"), F.col("dl")
    num = ((2 * n - 2 * df + 1).cast("decimal(38,0)") * 22 * tf * tt).cast(
        "double"
    )
    den = (
        (2 * df + 1).cast("decimal(38,0)")
        * (
            F.lit(10).cast("decimal(38,0)") * tf * tt
            + F.lit(3).cast("decimal(38,0)") * tt
            + F.lit(9).cast("decimal(38,0)") * dl * n
        )
    ).cast("double")
    return num / den

_BM25_SQL = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    d AS (
      SELECT doc_id, len(t) AS dl,
             len(list_filter(t, x -> x = 'spark'))  AS tf1,
             len(list_filter(t, x -> x = 'merge'))  AS tf2,
             len(list_filter(t, x -> x = 'vector')) AS tf3
      FROM toks
    ),
    s AS (
      SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tt,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
      FROM d
    )
    SELECT doc_id,
        CAST((2*n - 2*df1 + 1)::HUGEINT * 22 * tf1 * tt AS DOUBLE)
          / CAST((2*df1 + 1)::HUGEINT * (10::HUGEINT*tf1*tt + 3::HUGEINT*tt + 9::HUGEINT*dl*n) AS DOUBLE)
      + CAST((2*n - 2*df2 + 1)::HUGEINT * 22 * tf2 * tt AS DOUBLE)
          / CAST((2*df2 + 1)::HUGEINT * (10::HUGEINT*tf2*tt + 3::HUGEINT*tt + 9::HUGEINT*dl*n) AS DOUBLE)
      + CAST((2*n - 2*df3 + 1)::HUGEINT * 22 * tf3 * tt AS DOUBLE)
          / CAST((2*df3 + 1)::HUGEINT * (10::HUGEINT*tf3*tt + 3::HUGEINT*tt + 9::HUGEINT*dl*n) AS DOUBLE) AS bm25
    FROM d, s
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
"""


@register(
    "search_bm25_topk",
    oracle=_BM25_SQL,
    doc="Keyword search: BM25-style top-k over the corpus for a 3-term query "
    "(k1=1.2, b=0.75, rational IDF (N-df+.5)/(df+.5) instead of its log — a "
    "monotone per-term substitute that keeps every sub-expression an exact "
    "integer, so the score is one correctly-rounded IEEE division per term "
    "and bit-identical cross-engine; the integer products run in "
    "exact decimal(38,0)/HUGEINT — BIGINT wraps silently past ~3e7 docs, see "
    "_bm25_term_score's envelope note). Corpus stats (N, total tokens, "
    "per-term df) reduce to ONE broadcast row; the per-doc side is a narrow "
    "scan — at 100 TB this is scan + broadcast + TakeOrderedAndProject, no "
    "wide shuffle",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))

    def eq_term(w: str):
        # single-parameter lambda via factory: a `lambda x, w=w` default arg
        # would silently select F.filter's (element, index) binary form and
        # bind w to the array INDEX
        return lambda x: x == F.lit(w)

    d = docs.select(
        "doc_id",
        F.size(t).alias("dl"),
        *[
            F.size(F.filter(t, eq_term(w))).alias(f"tf{i+1}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").cast("long").alias("tt"),
        *[
            F.sum(F.when(F.col(f"tf{i+1}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i+1}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    joined = d.join(F.broadcast(stats))
    score = _bm25_term_score(1) + _bm25_term_score(2) + _bm25_term_score(3)
    return (
        joined.filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", score.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(v, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    )
    SELECT v AS doc_id, min(r) AS component,
           count(*) OVER (PARTITION BY min(r)) AS cluster_size,
           (v = min(r)) AS is_canonical
    FROM reach GROUP BY v
    """,
    doc="Dedup-cluster resolution: MinHash-LSH pairs → connected components "
    "→ canonical representative = min doc_id per cluster. The unqualified "
    "name runs the DEPLOYABLE plan (the default name must not be the "
    "baseline): alternating small-/"
    "large-star contraction, O(log n) rounds — the label-propagation "
    "fixpoint stays registered as dedup_cluster_components_labelprop, the "
    "mutual-witness baseline. Oracle restates the fixpoint as a recursive "
    "CTE (identical for both forms)",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        minhash_lsh_pairs,
        resolve_components,
    )
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5)
    # candidate-pair scale: a small per-round shuffle beats scan-scale task overhead
    comp = resolve_components(pairs, shuffle_partitions="auto")
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


@register(
    "dedup_cluster_components_labelprop",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(v, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    )
    SELECT v AS doc_id, min(r) AS component,
           count(*) OVER (PARTITION BY min(r)) AS cluster_size,
           (v = min(r)) AS is_canonical
    FROM reach GROUP BY v
    """,
    doc="dedup_cluster_components via iterative min-label PROPAGATION — the "
    "independently-implemented O(cluster-diameter) baseline kept as the "
    "star contraction's mutual witness (identical output contract and "
    "oracle; cross-checked in tests/test_components_star.py). Deploy the "
    "unqualified name; this form's round count grows with cluster depth",
)
def dedup_cluster_components_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        connected_components,
        minhash_lsh_pairs,
    )
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5)
    # candidate-pair scale: a small per-round shuffle beats scan-scale task overhead
    comp = connected_components(pairs, shuffle_partitions="auto")
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    exploded AS (SELECT doc_id, u.term FROM toks, unnest(t) u(term)),
    stats AS (
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM exploded GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term, tf::BIGINT AS tf, df::BIGINT AS df,
           round(tf * (n_docs + 1) / (df + 1), 6) AS tfidf
    FROM stats, n
    ORDER BY tfidf DESC, term LIMIT 50
    """,
    doc="Corpus-level TF-IDF top terms: one explode + one two-metric agg + a "
    "broadcast single-row doc count; rational idf (tf*(N+1)/(df+1) — no ln, "
    "so scores are bit-identical across engines); top-50 compiles to "
    "TakeOrderedAndProject, never a full sort",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    exploded = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    stats = exploded.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1), 6).alias(
                "tfidf"
            ),
        )
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(50)
    )


@register(
    "dedup_apply_corpus",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(v, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    ),
    drops AS (SELECT v FROM reach GROUP BY v HAVING v <> min(r))
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.v = d.doc_id)
    """,
    doc="The dedup step APPLIED: MinHash-LSH pairs → connected components → "
    "drop every non-canonical cluster member with one left_anti join — the "
    "surviving training corpus. Composition of dedup_minhash_lsh + "
    "dedup_cluster_components + F4's anti-join shape; uses the star-"
    "contraction components (O(log n) rounds — measured ~2x the propagation "
    "form even at sf0.1, parity-pinned in test_components_star.py). No "
    "broadcast hint: web-corpus near-dup fractions run 30-50%, so the drop "
    "set scales WITH the corpus — the anti-join must be a shuffle join at "
    "100 TB (AQE converts it to broadcast when the drop set turns out "
    "small)",
)
def dedup_apply_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        minhash_lsh_pairs,
        resolve_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5)
    comp = resolve_components(pairs, shuffle_partitions="auto")
    drops = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(drops, on="doc_id", how="left_anti").select(
        "doc_id", "lang", "source"
    )


# HLL parameters: p=9 -> m=512 registers; hash = portable 60-bit md5int,
# bucket = low 9 bits, rho = leading-zero rank of the remaining 51 bits
# (computed as 52 - bit_length, via base-2 string length — no float log2,
# whose libm rounding could diverge between engines near powers of two).
# EVERYTHING stays exact-integer until one final IEEE division: the
# harmonic sum Σ 2^-M_j is scaled by 2^52 so every term (2^(52-M_j)) is an
# integer — order-independent, bit-identical across engines and partition
# counts — and empty registers contribute (m - occupied)·2^52 without a
# 512-row join. alpha and 2^70 (= m²·2^52) are written as the SAME literal
# expression on both sides so the doubles agree bit-for-bit.
_HLL_M = 512
_HLL_ALPHA_SQL = "0.7213 / (1 + 1.079 / 512)"

# Low-range linear-counting correction, made portable:
# the standard correction m·ln(m/V) needs ln(), the one libm op with NO
# cross-engine rounding guarantee — but V = zero_regs has only 512 possible
# non-trivial values, so ln(m/V) becomes a 512-entry lookup of exact
# doubles. repr() is the shortest round-tripping decimal, and both engines
# parse decimal literals with correctly-rounded strtod, so the SAME literal
# string yields the SAME double on both sides; the remaining arithmetic is
# one IEEE multiply by 512.0 and the shared round(, 4).
import math as _math

_HLL_LN_LUT = tuple(repr(_math.log(_HLL_M / v)) for v in range(1, _HLL_M + 1))
_HLL_LN_LUT_SQL = "[" + ", ".join(_HLL_LN_LUT) + "]"
# Correction applies below the standard threshold E_raw <= 2.5m (= 1280)
# while empty registers remain. The branch condition reads the ROUNDED raw
# estimate, which is already bit-identical across engines, so both sides
# always take the same branch.
_HLL_LOW_RANGE = "1280.0"

# Shared register math for the two HLL queries (distinct_users, mergeable):
# the cross-engine invariant — alpha and m²·2^52 written as the SAME
# literals on both sides, rho from the same shifted hash — must live in
# exactly one place per engine or a precision retune desyncs them.
_HLL_SHIFT = _HLL_M.bit_length() - 1  # p = 9
_HLL_POW70 = 1180591620717411303424.0  # m² · 2^52 as the shared literal


def _hll_alpha() -> F.Column:
    return F.lit(0.7213) / (F.lit(1) + F.lit(1.079) / F.lit(512))


def _hll_rows(ev: DataFrame, *extra_cols: str, col: str = "user_id") -> DataFrame:
    """(bucket, rho) per row (+ passthrough columns): the map-side
    projection every HLL construction starts from. ``col`` is the hashed
    column (``user_id`` for the sketch queries, ``val`` for the
    profiler) — callers must pre-filter NULLs."""
    hv = md5int(F.col(col).cast("string"))
    return ev.select(
        *extra_cols,
        (hv % _HLL_M).alias("bucket"),
        (
            F.lit(52)
            - F.length(
                F.conv(F.shiftright(hv, _HLL_SHIFT).cast("string"), 10, 2)
            )
        ).alias("rho"),
    )


def _hll_s_occ() -> F.Column:
    """Aggregate: scaled harmonic sum over occupied registers. coalesce is
    load-bearing — sum() over ZERO registers (every user_id NULL) is NULL,
    which would poison s_scaled/merge_exact instead of yielding the
    well-defined empty-sketch state m·2^52."""
    # column-valued shift amount needs the SQL form (python F.shiftleft
    # only takes an int literal)
    return F.coalesce(
        F.sum(F.expr("shiftleft(1L, 52 - m_j)")).cast("long"),
        F.lit(0).cast("long"),
    )


def _hll_estimates(s: DataFrame, *group_cols: str) -> DataFrame:
    """Register-state → estimate columns (m, zero_regs, s_scaled,
    hll_raw_estimate, hll_corrected_estimate), optionally per group.
    ``s`` carries (occupied, s_occ) plus the group columns. This is the
    ONE place the estimate math lives on the Spark side (mirrored by the
    oracle fragments) — the profiler and the sketch queries must not
    restate it or a precision retune desyncs them."""
    s_scaled = (
        F.col("s_occ")
        + (F.lit(_HLL_M) - F.col("occupied")) * F.lit(1 << 52).cast("long")
    ).cast("long")
    raw = s.select(
        *group_cols,
        F.lit(_HLL_M).cast("long").alias("m"),
        (F.lit(_HLL_M) - F.col("occupied")).cast("long").alias("zero_regs"),
        s_scaled.alias("s_scaled"),
        F.round(
            _hll_alpha() * F.lit(_HLL_POW70) / s_scaled.cast("double"), 4
        ).alias("hll_raw_estimate"),
    )
    # Same 512 literal doubles as the oracle's list — float(repr) round-trips,
    # so both engines multiply identical doubles by 512.0 and round alike.
    ln_lut = F.array(*[F.lit(float(x)) for x in _HLL_LN_LUT])
    return raw.withColumn(
        "hll_corrected_estimate",
        F.when(
            (F.col("zero_regs") > 0)
            & (F.col("hll_raw_estimate") <= F.lit(float(_HLL_LOW_RANGE))),
            F.round(
                F.lit(float(_HLL_M))
                * F.element_at(ln_lut, F.col("zero_regs").cast("int")),
                4,
            ),
        ).otherwise(F.col("hll_raw_estimate")),
    )


# Named so stream_sketch_hll (plans/streaming_plans.py) can reuse the
# identical contract: the streaming register fold must hash-match the
# batch sketch, so both register with the SAME oracle SQL.
_HLL_ORACLE_SQL = f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    br AS (
      SELECT hv % {_HLL_M} AS bucket,
             52 - length(bin(hv // {_HLL_M})) AS rho
      FROM h
    ),
    regs AS (SELECT bucket, max(rho) AS m_j FROM br GROUP BY bucket),
    s AS (
      SELECT count(*) AS occupied,
             coalesce(sum((1::BIGINT << (52 - m_j))), 0)::BIGINT AS s_occ
      FROM regs
    ),
    raw AS (
      SELECT {_HLL_M}::BIGINT AS m,
             ({_HLL_M} - occupied)::BIGINT AS zero_regs,
             (s_occ + ({_HLL_M} - occupied) * (1::BIGINT << 52))::BIGINT AS s_scaled,
             round(({_HLL_ALPHA_SQL}) * 1180591620717411303424.0
                   / (s_occ + ({_HLL_M} - occupied) * (1::BIGINT << 52)), 4)
               AS hll_raw_estimate
      FROM s
    )
    SELECT m, zero_regs, s_scaled, hll_raw_estimate,
           CASE WHEN zero_regs > 0 AND hll_raw_estimate <= {_HLL_LOW_RANGE}
                THEN round({_HLL_M} * list_extract({_HLL_LN_LUT_SQL}::DOUBLE[],
                                                   zero_regs::INT), 4)
                ELSE hll_raw_estimate END AS hll_corrected_estimate
    FROM raw
    """


@register(
    "sketch_hll_distinct_users",
    oracle=_HLL_ORACLE_SQL,
    doc="Portable HyperLogLog distinct-count sketch (p=9, m=512) over "
    "events.user_id — THE 100 TB shape for distinct counting: a narrow "
    "map-side projection then ONE 512-key partial-max shuffle (contrast "
    "agg_distinct_users' exact count-distinct, which shuffles every "
    "distinct key). The novel part is bit-exact cross-engine checkability "
    "of an approximate sketch: integer-only register math (rho via base-2 "
    "string length, harmonic sum pre-scaled by 2^52 so each term is an "
    "integer) defers ALL floating point to one deterministic IEEE divide. "
    "Output is the full sketch state (zero_regs + scaled harmonic sum + "
    "raw estimate) PLUS hll_corrected_estimate: the low-range linear-"
    "counting correction m*ln(m/V) needs ln() — no cross-engine rounding "
    "guarantee — but V has only 512 possible values, so both engines index "
    "the SAME 512-entry exact-double literal table "
    "and the correction itself hash-matches. Accuracy (<5% corrected, "
    "<14% raw at high range) is bound-tested in tests/test_sketches.py",
)
def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    regs = _hll_rows(ev).groupBy("bucket").agg(F.max("rho").alias("m_j"))
    s = regs.agg(
        F.count(F.lit(1)).alias("occupied"),
        _hll_s_occ().alias("s_occ"),
    )
    return _hll_estimates(s)


@register(
    "sketch_hll_mergeable",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ({_MD5INT.format(x="user_id::VARCHAR")}) AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    br AS (
      SELECT event_type, hv % {_HLL_M} AS bucket,
             52 - length(bin(hv // {_HLL_M})) AS rho
      FROM h
    ),
    per_shard AS (
      SELECT event_type, bucket, max(rho) AS m_j FROM br GROUP BY 1, 2
    ),
    merged AS (SELECT bucket, max(m_j) AS m_j FROM per_shard GROUP BY bucket),
    direct AS (SELECT bucket, max(rho) AS m_j FROM br GROUP BY bucket),
    ms AS (
      SELECT count(*) AS occ,
             coalesce(sum((1::BIGINT << (52 - m_j))), 0)::BIGINT AS s_occ
      FROM merged
    ),
    ds AS (
      SELECT count(*) AS occ,
             coalesce(sum((1::BIGINT << (52 - m_j))), 0)::BIGINT AS s_occ
      FROM direct
    )
    SELECT {_HLL_M}::BIGINT AS m,
           (ms.s_occ + ({_HLL_M} - ms.occ) * (1::BIGINT << 52))::BIGINT
             AS s_scaled_merged,
           (ds.s_occ + ({_HLL_M} - ds.occ) * (1::BIGINT << 52))::BIGINT
             AS s_scaled_direct,
           ((ms.s_occ + ({_HLL_M} - ms.occ) * (1::BIGINT << 52))
            = (ds.s_occ + ({_HLL_M} - ds.occ) * (1::BIGINT << 52)))
             AS merge_exact,
           round(({_HLL_ALPHA_SQL}) * 1180591620717411303424.0
                 / (ms.s_occ + ({_HLL_M} - ms.occ) * (1::BIGINT << 52)), 4)
             AS hll_estimate_merged
    FROM ms, ds
    """,
    doc="HLL MERGEABILITY — the property that makes sketches the "
    "distributed shape: per-shard register states (here sharded by "
    "event_type) combine by register-wise max into EXACTLY the state a "
    "single global pass builds, so a 1000-executor cluster can sketch "
    "each partition independently and union results without error "
    "growth. Both paths are computed with the same exact-integer "
    "register math as sketch_hll_distinct_users and compared "
    "bit-for-bit; merge_exact lands as a hash-checked column (true by "
    "max-associativity, now an engine-verified fact rather than a "
    "docstring claim)",
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    br = _hll_rows(ev, "event_type")
    per_shard = br.groupBy("event_type", "bucket").agg(F.max("rho").alias("m_j"))
    merged = per_shard.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    direct = br.groupBy("bucket").agg(F.max("rho").alias("m_j"))

    def s_scaled_of(regs: DataFrame) -> F.Column:
        s = regs.agg(F.count(F.lit(1)).alias("occ"), _hll_s_occ().alias("s_occ"))
        return s.select(
            (
                F.col("s_occ")
                + (F.lit(_HLL_M) - F.col("occ")) * F.lit(1 << 52).cast("long")
            ).cast("long")
        ).scalar()

    sm, sd = s_scaled_of(merged), s_scaled_of(direct)
    return spark.range(1).select(
        F.lit(_HLL_M).cast("long").alias("m"),
        sm.alias("s_scaled_merged"),
        sd.alias("s_scaled_direct"),
        (sm == sd).alias("merge_exact"),
        F.round(
            _hll_alpha() * F.lit(_HLL_POW70) / sm.cast("double"), 4
        ).alias("hll_estimate_merged"),
    )


# Count-Min sketch parameters + fixed probe keys. d=4 hash rows x w=1024
# buckets: the sketch state is 4096 integer counters REGARDLESS of corpus
# size, and building it is one map-side-combinable groupBy on (row, bucket)
# — contrast exact term frequencies, which shuffle every distinct token.
# All integer arithmetic end-to-end -> hash-exact across engines. Probe set
# is a fixed literal list (frequent corpus terms + one absent sentinel that
# exercises the collision-noise floor).
_CMS_D, _CMS_W = 4, 1024
_CMS_PROBES = ("join", "hash", "row", "batch", "scan", "filter", "zzz_absent")


@register(
    "sketch_cms_term_counts",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tok AS (SELECT u.x AS tok FROM toks, unnest(t) u(x)),
    hashed AS (
      SELECT r.j,
             ({_MD5INT.format(x="r.j::VARCHAR || ':' || tok")}) % {_CMS_W} AS bucket
      FROM tok, range(0, {_CMS_D}) r(j)
    ),
    cms AS (SELECT j, bucket, count(*) AS c FROM hashed GROUP BY j, bucket),
    probes(word) AS (VALUES {", ".join(f"('{p}')" for p in _CMS_PROBES)}),
    pb AS (
      SELECT word, r.j,
             ({_MD5INT.format(x="r.j::VARCHAR || ':' || word")}) % {_CMS_W} AS bucket
      FROM probes, range(0, {_CMS_D}) r(j)
    )
    SELECT word, min(coalesce(c, 0))::BIGINT AS cms_count
    FROM pb LEFT JOIN cms USING (j, bucket)
    GROUP BY word
    """,
    doc="Count-Min frequency sketch (d=4, w=1024) over document tokens with "
    "point estimates for a fixed probe vocabulary — the frequency twin of "
    "the HLL distinct sketch: bounded 4096-counter state, map-side partial "
    "counting, never a full distinct-token shuffle. Pure integer math "
    "(portable md5int row-salted hashes, min over 4 counters) makes the "
    "approximate estimates bit-exact cross-engine; the CMS guarantee "
    "(estimate >= true, <= true + collision noise) is tested vs exact "
    "counts in tests/test_sketches.py",
)
def sketch_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))

    def buckets_of(col: F.Column) -> F.Column:
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (md5int(F.concat(F.lit(f"{j}:"), col)) % _CMS_W).alias("bucket"),
                )
                for j in range(_CMS_D)
            ]
        )

    hashed = toks.select(F.explode(buckets_of(F.col("tok"))).alias("h")).select(
        "h.j", "h.bucket"
    )
    cms = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    # JVM-side literal dim (ref_worklist_urls precedent: createDataFrame
    # from local rows pays a Python worker spin-up for a handful of rows)
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _CMS_PROBES])).alias("word")
    )
    pb = probes.select(
        "word", F.explode(buckets_of(F.col("word"))).alias("h")
    ).select("word", "h.j", "h.bucket")
    return (
        pb.join(cms, on=["j", "bucket"], how="left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_count"))
    )


# Histogram-quantile sketch: 256 fixed-width bins ([0, 512) in steps of 2,
# out-of-range clamps to the edge bins). Like the HLL/CMS construction the
# state is integer counts over a BOUNDED key set — a map-side-combinable
# 256-key aggregate replaces exact percentile's full sort — and the only
# floating point is the final interpolation, identical IEEE ops on exact
# integers + the same q literals in both engines.
_HQ_BINS, _HQ_W = 256, 2
_HQ_QS = (0.25, 0.5, 0.9, 0.99)


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT least(greatest(floor(value / {_HQ_W}), 0), {_HQ_BINS - 1})::BIGINT AS bin
      FROM events WHERE value IS NOT NULL AND isfinite(value) AND abs(value) < 1000000000000.0
    ),
    counts AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
    cum AS (SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum,
                   sum(c) OVER () AS n
            FROM counts),
    qs(q) AS (VALUES {", ".join(f"({q})" for q in _HQ_QS)}),
    sel AS (SELECT q, min(bin) AS bin FROM qs, cum
            WHERE cum >= q * n GROUP BY q)
    SELECT s.q,
           round(s.bin * {_HQ_W} + {_HQ_W}.0 * (s.q * c2.n - (c2.cum - c2.c)) / c2.c, 6)
             AS quantile_est
    FROM sel s JOIN cum c2 ON c2.bin = s.bin
    """,
    doc="Fixed-bin histogram quantile sketch over events.value (q25/50/90/99): "
    "the third portable sketch — bounded 256-key integer-count state with "
    "map-side partials instead of exact percentile's full sort; linear "
    "interpolation inside the hit bin is the only float math (identical "
    "IEEE ops both engines -> hash-exact). Deterministic error bound: "
    "estimate within one bin width (2.0) of the exact quantile, tested in "
    "tests/test_sketches.py. Contrast agg_percentiles (exact, sort-based)",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = finite_measures(
        load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    )
    b = ev.select(
        F.least(
            F.greatest(F.floor(F.col("value") / _HQ_W), F.lit(0)),
            F.lit(_HQ_BINS - 1),
        )
        .cast("long")
        .alias("bin")
    )
    counts = b.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    # <=256 rows: the unpartitioned windows are a deliberate single-task
    # pass over the tiny register table, not a data-scale sort.
    cum = counts.select(
        "bin",
        "c",
        F.sum("c").over(Window.orderBy("bin")).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(q)).cast("double") for q in _HQ_QS])
        ).alias("q")
    )
    sel = (
        qs.crossJoin(cum)
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    est = F.col("bin") * _HQ_W + F.lit(float(_HQ_W)) * (
        F.col("q") * F.col("n") - (F.col("cum") - F.col("c"))
    ) / F.col("c")
    return sel.join(cum, on="bin").select("q", F.round(est, 6).alias("quantile_est"))


# Bloom-filter membership sketch: the fourth portable sketch, and the
# sketch twin of F4's duplicate-skip anti-join — at 100 TB the
# already-ingested key set no longer fits a broadcast, but an 8192-bit
# Bloom filter of it always does (fixed 1 KiB state at ANY corpus size),
# turning the frontier dedup gate into a map-side bitmask test with zero
# false negatives. Layout: m = 8192 bits packed as 256 x 32-bit words in
# BIGINTs (32, not 64, bits per word because DuckDB overflow-checks
# 1::BIGINT << 63 — bit positions stay < 2^32 on both engines); k = 4
# row-salted md5int hashes (the CMS family); build = ONE 256-key
# bit_or aggregate with map-side partials. Pure integer end-to-end ->
# the whole filter state and every probe verdict is hash-exact.
_BLOOM_M, _BLOOM_K, _BLOOM_WORD = 8192, 4, 32
# Probes: four ids present at every SF (user_id is dense from 0) + two
# absent sentinels exercising the false-positive path.
_BLOOM_PROBES = (0, 1, 7, 14, 9999991, 9999997)


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH pos AS (
      SELECT ({_MD5INT.format(x="r.j::VARCHAR || ':' || user_id::VARCHAR")})
               % {_BLOOM_M} AS pos
      FROM events, range(0, {_BLOOM_K}) r(j) WHERE user_id IS NOT NULL
    ),
    words AS (
      SELECT pos // {_BLOOM_WORD} AS w,
             bit_or(1::BIGINT << (pos % {_BLOOM_WORD})) AS bits
      FROM pos GROUP BY 1
    ),
    fill AS (SELECT sum(bit_count(bits))::BIGINT AS bits_set FROM words),
    probes(probe_user_id) AS (VALUES {", ".join(f"({p})" for p in _BLOOM_PROBES)}),
    pp AS (
      SELECT probe_user_id,
             ({_MD5INT.format(x="r.j::VARCHAR || ':' || probe_user_id::VARCHAR")})
               % {_BLOOM_M} AS pos
      FROM probes, range(0, {_BLOOM_K}) r(j)
    ),
    hits AS (
      SELECT probe_user_id,
             sum(CASE WHEN (coalesce(w.bits, 0) >> (pp.pos % {_BLOOM_WORD})) & 1 = 1
                      THEN 1 ELSE 0 END)::BIGINT AS k_hits
      FROM pp LEFT JOIN words w ON w.w = pp.pos // {_BLOOM_WORD}
      GROUP BY probe_user_id
    )
    SELECT probe_user_id::BIGINT AS probe_user_id, k_hits,
           (k_hits = {_BLOOM_K}) AS maybe_present, bits_set
    FROM hits, fill
    """,
    doc="Portable Bloom-filter membership sketch (m=8192 bits as 256x32-bit "
    "words, k=4 row-salted md5int hashes) over events.user_id — the sketch "
    "twin of F4's duplicate-skip gate: at 100 TB the ingested-key set "
    "outgrows any broadcast but its Bloom filter is a FIXED 1 KiB of "
    "state built by one 256-key bit_or aggregate with map-side partials; "
    "probing is a map-side bitmask test with zero false negatives. Pure "
    "integer math -> filter state and probe verdicts hash-exact across "
    "engines; the no-false-negative guarantee and the fill-ratio-bounded "
    "false-positive rate are tested in tests/test_sketches.py",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def positions_of(col: F.Column) -> F.Column:
        return F.array(
            *[
                (md5int(F.concat(F.lit(f"{j}:"), col.cast("string"))) % _BLOOM_M)
                for j in range(_BLOOM_K)
            ]
        )

    pos = ev.select(F.explode(positions_of(F.col("user_id"))).alias("pos"))
    words = (
        pos.select(
            F.shiftright(F.col("pos"), 5).alias("w"),
            F.col("pos").bitwiseAND(F.lit(_BLOOM_WORD - 1)).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, CAST(bit AS INT)))").alias("bits"))
        # The built filter IS the sketch: ≤256 rows that feed BOTH the
        # fill count and the probe join — materialize it once instead of
        # re-running the corpus-sized bit_or aggregate per consumer.
        .localCheckpoint(eager=True)
    )
    fill = words.agg(F.sum(F.bit_count("bits")).cast("long").alias("bits_set"))
    # Probe dim built JVM-side (explode of an array literal): createDataFrame
    # from local rows routes through the Python-RDD path and pays a Python
    # worker spin-up just to emit six rows (ref_worklist_urls precedent).
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in _BLOOM_PROBES])
        ).alias("probe_user_id")
    )
    pp = probes.select(
        "probe_user_id", F.explode(positions_of(F.col("probe_user_id"))).alias("pos")
    ).select(
        "probe_user_id",
        F.shiftright(F.col("pos"), 5).alias("w"),
        F.col("pos").bitwiseAND(F.lit(_BLOOM_WORD - 1)).alias("bit"),
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(1L, CAST(bit AS INT))"))
        != 0
    )
    hits = (
        # 24 probe rows against the ≤256-word filter: broadcast the filter
        # (1 KiB of state — the whole point of the sketch) so probing is a
        # map-side lookup with no shuffle.
        pp.join(F.broadcast(words), on="w", how="left")
        .groupBy("probe_user_id")
        .agg(F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("k_hits"))
    )
    return hits.crossJoin(fill).select(
        "probe_user_id",
        "k_hits",
        (F.col("k_hits") == _BLOOM_K).alias("maybe_present"),
        "bits_set",
    )


@register(
    "embedding_dim_stats",
    # Integer-exact moments: a mean-of-squares-minus-square-of-mean form
    # computes variance as a DIFFERENCE OF DOUBLES, and at exactly-zero
    # variance (one vector, or a constant dimension) the two engines' float
    # residues straddle the round-to-6 boundary (Spark 1e-06 vs DuckDB 0.0
    # on a single-row input). Instead the variance numerator n*sum(q^2) -
    # sum(q)^2 is computed EXACTLY over micro-quantized integers (q =
    # round(v*1e6); HUGEINT/DECIMAL(38,0) products, bounds: |q|<=2^21,
    # n<=1e12 => |num| < 4e36 < 38 digits), so both engines sqrt the
    # IDENTICAL value — bit-exact by construction, and exact zeros stay
    # exactly zero.
    oracle="""
    WITH dims AS (
      SELECT u.i - 1 AS dim,
             round(e.embedding[u.i]::DOUBLE * 1000000)::BIGINT AS q
      FROM embeddings e, range(1, 65) u(i)
      WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x <> 0)) > 0
    ),
    m AS (SELECT dim, count(*)::HUGEINT AS n,
                 sum(q)::HUGEINT AS s1,
                 sum((q * q)::HUGEINT)::HUGEINT AS s2
          FROM dims GROUP BY dim)
    SELECT dim::INT AS dim,
           round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000, 6) AS mean,
           round(sqrt(CAST(greatest(n * s2 - s1 * s1, 0) AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000000, 6) AS std
    FROM m
    """,
    doc="Per-dimension embedding health stats (mean/std — the collapsed- or "
    "dead-dimension check an embedding pipeline runs before indexing): "
    "posexplode to (dim, value), one two-metric aggregate keyed by the 64 "
    "dims; decimal-exact sums so moments hash-match across engines",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.util import ensure_parallelism

    emb = ensure_parallelism(_load_embeddings(spark, sf_dir))
    dims = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1000000).cast("long"),
            )
        ).alias("dim", "q")
    )
    n = F.count(F.lit(1)).cast("decimal(38,0)")
    s1 = F.sum("q").cast("decimal(38,0)")
    s2 = F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)"))
    num = F.greatest(n * s2 - s1 * s1, F.lit(0).cast("decimal(38,0)"))
    nd = n.cast("double")
    return dims.groupBy("dim").agg(
        F.round(s1.cast("double") / nd / 1000000, 6).alias("mean"),
        F.round(F.sqrt(num.cast("double")) / nd / 1000000, 6).alias("std"),
    ).select(F.col("dim").cast("int").alias("dim"), "mean", "std")


# Sequence packing: budget + shard width. Packing is greedy and inherently
# sequential, so the 100 TB form makes the sequence explicit and BOUNDED:
# documents shard by doc_id // SHARD (64 docs per shard), each shard packs
# independently (embarrassingly parallel — shard boundaries simply start a
# fresh pack), and the per-shard walk is a tiny Arrow-batched kernel.
_PACK_BUDGET, _PACK_SHARD = 256, 64


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, doc_id // {_PACK_SHARD} AS shard,
             len(list_filter(string_split_regex(lower(replace(replace(trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
                             x -> x <> '')) AS tokens
      FROM documents
    ),
    ord AS (
      SELECT shard, doc_id, tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM toks
    ),
    walk(shard, rn, doc_id, tokens, pack, cum) AS (
      SELECT shard, rn, doc_id, tokens, 0, tokens FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.tokens,
             CASE WHEN w.cum + o.tokens > {_PACK_BUDGET} THEN w.pack + 1
                  ELSE w.pack END,
             CASE WHEN w.cum + o.tokens > {_PACK_BUDGET} THEN o.tokens
                  ELSE w.cum + o.tokens END
      FROM walk w JOIN ord o ON o.shard = w.shard AND o.rn = w.rn + 1
    )
    SELECT doc_id, shard, (shard * 1048576 + pack)::BIGINT AS pack_id, tokens
    FROM walk
    """,
    doc="Greedy sequence packing for LLM training batches: documents fill a "
    f"{_PACK_BUDGET}-token budget in doc_id order and overflow starts the "
    "next pack. Packing is sequential by nature, so the scale design bounds "
    f"the sequence: shards of {_PACK_SHARD} docs pack independently "
    "(shard boundaries start a fresh pack) — embarrassingly parallel via "
    "one applyInPandas over the shard key, with the token counting done "
    "JVM-side before the tiny per-shard walk. Oracle restates the greedy "
    "recurrence as a recursive CTE, so the exact pack assignment "
    "hash-matches",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from petfinder_database_distributor_spark.operators.text import token_count

    # shiftright, NOT (doc_id / 64).cast: `/` on longs is IEEE double
    # division, which mis-shards ids past 2^53 (md5int-class keys) while
    # the oracle's integer `doc_id // 64` does not. (The pack_id layout
    # shard * 2^20 + pack assumes shard < 2^43 — fine for sharded
    # sequential ids; re-key before packing if ids are full 60-bit.)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.shiftright(F.col("doc_id"), _PACK_SHARD.bit_length() - 1).alias("shard"),
        token_count(F.col("text")).cast("long").alias("tokens"),
    )
    budget, shard_w = _PACK_BUDGET, _PACK_SHARD  # close over plain ints

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs = []
        pack = cum = 0
        for i, t in enumerate(pdf["tokens"]):
            t = int(t)
            if i == 0:
                pack, cum = 0, t
            elif cum + t > budget:
                pack, cum = pack + 1, t
            else:
                cum += t
            packs.append(pack)
        pdf["pack_id"] = pdf["shard"] * 1048576 + pd.Series(packs, dtype="int64")
        return pdf[["doc_id", "shard", "pack_id", "tokens"]]

    return docs.groupBy("shard").applyInPandas(
        pack_shard, "doc_id long, shard long, pack_id long, tokens long"
    )


@register(
    "embedding_quantize_int8",
    # floor(x/scale + 0.5), NOT round(): both engines floor identically on
    # every IEEE double, while round()'s half-tie convention is the one
    # arithmetic detail DuckDB and Spark are allowed to disagree on for
    # negative halves. The quantized vector rides as a CSV string because
    # the canonical row compare stringifies arrays engine-specifically.
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0),
    s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
          FROM v)
    SELECT vec_id, scale,
           array_to_string(
             CASE WHEN scale > 0
                  THEN list_transform(e, x -> floor(x / scale + 0.5)::INT)
                  ELSE list_transform(e, x -> 0) END, ',') AS q_csv,
           CASE WHEN scale > 0
                THEN list_sum(list_transform(e, x -> abs(floor(x / scale + 0.5))::BIGINT))::BIGINT
                ELSE 0::BIGINT END AS q_l1
    FROM s
    """,
    doc="Symmetric int8 quantization of the embedding column (per-vector "
    "scale = max|x|/127, q = floor(x/scale + .5)): the memory-layout step "
    "an ANN index runs before serving — 4x smaller vectors with the scale "
    "kept for dequantized scoring. Pure narrow projection, no shuffle; "
    "floor-based rounding keeps the quantized values bit-identical across "
    "engines (round() half-ties are engine-specific on negatives)",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.util import ensure_parallelism

    emb = ensure_parallelism(_load_embeddings(spark, sf_dir))
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    with_scale = emb.select("vec_id", e.alias("e"), scale.alias("scale"))
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("e"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(F.col("e"), lambda x: F.lit(0)))
    q_l1 = F.when(
        F.col("scale") > 0,
        F.aggregate(
            F.transform(
                F.col("e"),
                lambda x: F.abs(F.floor(x / F.col("scale") + F.lit(0.5))).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).otherwise(F.lit(0).cast("long"))
    return with_scale.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))).alias("q_csv"),
        q_l1.alias("q_l1"),
    )


@register(
    "dedup_levenshtein",
    # The oracle mirrors the deletion-neighborhood blocking: every name
    # emits itself + each single-deletion variant; d<=1 pairs always share
    # a variant (SymSpell's guarantee), then exact levenshtein verifies.
    oracle="""
    WITH inv AS (
      SELECT p_partkey AS id, p_name AS name, u.v AS variant
      FROM part, unnest(list_distinct(
        [p_name] || [substr(p_name, 1, i - 1) || substr(p_name, i + 1, 1000000)
                     for i in range(1, length(p_name) + 1)])) u(v)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.name AS na, b.id AS id_b, b.name AS nb
      FROM inv a JOIN inv b ON a.variant = b.variant AND a.id < b.id
    )
    SELECT levenshtein(na, nb)::INT AS distance, count(*) AS n_pairs
    FROM cand WHERE levenshtein(na, nb) <= 1
    GROUP BY 1
    """,
    doc="Edit-distance near-dup detection (SURVEY M6's levenshtein promise): "
    "SymSpell-style deletion-neighborhood blocking — FULL recall at d<=1 "
    "via a variant equi-join, never all-pairs and no lossy first-char "
    "blocking; Spark's threshold levenshtein early-exits the verify; "
    "aggregated (distance, n_pairs) because catalog names are "
    "duplicate-heavy (3.1M raw pairs at sf0.1)",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        levenshtein_neardup_counts,
    )

    part = load_table(spark, sf_dir, "part")
    return levenshtein_neardup_counts(part, "p_partkey", "p_name")


_HLL_BY_GROUP_ORACLE_SQL = f"""
    WITH h AS (
      SELECT coalesce(event_type, '') AS grp,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    br AS (
      SELECT grp, hv % {_HLL_M} AS bucket,
             52 - length(bin(hv // {_HLL_M})) AS rho
      FROM h
    ),
    regs AS (SELECT grp, bucket, max(rho) AS m_j FROM br GROUP BY 1, 2),
    s AS (
      SELECT grp, count(*) AS occupied,
             coalesce(sum((1::BIGINT << (52 - m_j))), 0)::BIGINT AS s_occ
      FROM regs GROUP BY 1
    ),
    raw AS (
      SELECT grp, {_HLL_M}::BIGINT AS m,
             ({_HLL_M} - occupied)::BIGINT AS zero_regs,
             (s_occ + ({_HLL_M} - occupied) * (1::BIGINT << 52))::BIGINT AS s_scaled,
             round(({_HLL_ALPHA_SQL}) * 1180591620717411303424.0
                   / (s_occ + ({_HLL_M} - occupied) * (1::BIGINT << 52)), 4)
               AS hll_raw_estimate
      FROM s
    )
    SELECT grp, m, zero_regs, s_scaled, hll_raw_estimate,
           CASE WHEN zero_regs > 0 AND hll_raw_estimate <= {_HLL_LOW_RANGE}
                THEN round({_HLL_M} * list_extract({_HLL_LN_LUT_SQL}::DOUBLE[],
                                                   zero_regs::INT), 4)
                ELSE hll_raw_estimate END AS hll_corrected_estimate
    FROM raw
    """


@register(
    "sketch_hll_by_group",
    oracle=_HLL_BY_GROUP_ORACLE_SQL,
    doc="Per-group HyperLogLog: distinct users per event_type as bounded "
    "register state — count(DISTINCT x) GROUP BY k shuffles every distinct "
    "(k, x) pair; this shuffles AT MOST |groups| x 512 register rows no "
    "matter how many users each group has, and the per-group registers "
    "remain mergeable across shards (the same max-fold "
    "sketch_hll_mergeable proves globally). Same integer-only register "
    "math and portable low-range correction as the global sketch, shared "
    "through _hll_rows/_hll_estimates so a precision retune cannot desync "
    "the family. Contract: NULL event_type ≡ '' group (the stateful-"
    "counter convention), NULL user_id rows excluded.",
)
def sketch_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(F.coalesce(F.col("event_type"), F.lit("")).alias("grp"), "user_id")
    )
    rows = _hll_rows(ev, "grp")
    regs = rows.groupBy("grp", "bucket").agg(F.max("rho").alias("m_j"))
    s = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("occupied"), _hll_s_occ().alias("s_occ")
    )
    return _hll_estimates(s, "grp")


# ---------------------------------------------------------------------------
# Corpus-curation pair: cross-document boilerplate chunk
# suppression (the CCNet-style shape — shared headers/footers/navigation
# repeat VERBATIM across many pages; removing repeated spans, not repeated
# documents, is what exact dedup can't do) and per-language RELATIVE quality
# filtering (Gopher/FineWeb-style: an absolute quality cutoff tuned for
# English silently guts low-resource languages; keeping everything above a
# per-language percentile is the standard fix).
# ---------------------------------------------------------------------------


@register(
    "corpus_boilerplate_strip",
    oracle=f"""
    WITH toks AS ({{toks}}),
    idx AS (SELECT doc_id, t, unnest(range(0, cast(ceil(len(t) / 8.0) AS BIGINT))) AS i
            FROM toks WHERE len(t) > 0 AND doc_id IS NOT NULL),
    ch AS (SELECT doc_id,
                  ({{h}}) AS h,
                  len(t[i*8+1 : i*8+8]) AS plen
           FROM idx),
    common AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 3)
    SELECT ch.doc_id,
           count(*)::BIGINT AS n_chunks,
           sum(CASE WHEN common.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_common,
           sum(CASE WHEN common.h IS NULL THEN plen ELSE 0 END)::BIGINT AS kept_tokens
    FROM ch LEFT JOIN common ON ch.h = common.h
    GROUP BY ch.doc_id
    """.format(
        toks=_TOKS_SQL,
        h=_MD5INT.format(x="array_to_string(t[i*8+1 : i*8+8], ' ')"),
    ),
    doc="Cross-document boilerplate suppression (CCNet-shape): split every "
    "document into non-overlapping 8-token chunks, hash each chunk "
    "(portable md5int), and mark chunks that appear VERBATIM in >= 3 "
    "distinct documents as boilerplate; per document, report total chunks, "
    "boilerplate chunks, and the token count that survives stripping. "
    "Scale shape: the chunk explode is narrow; ONE corpus-sized shuffle "
    "builds the per-hash distinct-doc counts with map-side partial "
    "aggregation; the surviving common set is tiny BY CONSTRUCTION "
    "(a hash must repeat across >= 3 documents to qualify — verbatim "
    "repeats are rare outside real boilerplate), so it broadcasts back onto "
    "the chunk stream and the final per-doc rollup shuffles only "
    "(doc_id, flag, len) triples. NULL doc_id rows excluded (chunks "
    "without a home document can't be attributed).",
)
def corpus_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    W = 8
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    )
    # pushdown_barrier: without it the size(t) > 0
    # filter pushes below this projection with the tokenize tree inlined
    # — every document tokenized twice in the chunk-checkpoint job.
    from petfinder_database_distributor_spark.util import pushdown_barrier

    toked = docs.select(
        "doc_id", pushdown_barrier(tokens(F.col("text"))).alias("t")
    ).filter(F.size("t") > 0)
    n_chunks = F.ceil(F.size("t") / F.lit(float(W))).cast("int")
    piece = F.slice(F.col("t"), F.col("i") * W + 1, W)
    # The (doc_id, h, plen) triples feed BOTH the common-set build and the
    # probe side of the broadcast join; checkpoint the compact triples so
    # the scan + tokenize + explode + hash pipeline runs once, not twice
    # (localCheckpoint, not persist: blocks release on GC instead of
    # pinning a session-lifetime cache entry).
    chunks = (
        toked.select(
            "doc_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"), "t"
        )
        .select(
            "doc_id",
            md5int(F.concat_ws(" ", piece)).alias("h"),
            F.size(piece).alias("plen"),
        )
        .localCheckpoint(eager=True)
    )
    common = (
        chunks.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("h", F.lit(True).alias("is_common"))
    )
    return (
        chunks.join(F.broadcast(common), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("is_common"), 1).otherwise(0)).alias("n_common"),
            F.sum(
                F.when(F.col("is_common").isNull(), F.col("plen")).otherwise(0)
            ).alias("kept_tokens"),
        )
    )


@register(
    "quality_percentile_filter",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    m AS ({_QUALITY_M_SQL}),
    q AS (SELECT m.doc_id, tk.lang, {_QUALITY_EXPR_SQL} AS quality
          FROM m JOIN toks tk ON m.doc_id = tk.doc_id
          WHERE m.doc_id IS NOT NULL),
    r AS (SELECT doc_id, lang, quality,
                 round(percent_rank() OVER (
                     PARTITION BY lang ORDER BY quality, doc_id), 6) AS pct_rank,
                 count(*) OVER (PARTITION BY lang) AS n_lang
          FROM q)
    SELECT doc_id, lang, quality, pct_rank FROM r
    WHERE pct_rank >= 0.25 OR n_lang = 1
    """,
    doc="Per-language RELATIVE quality filter (Gopher/FineWeb-shape): keep "
    "every document at or above the 25th quality percentile WITHIN ITS "
    "LANGUAGE — an absolute cutoff tuned on the dominant language would "
    "discard low-resource languages wholesale. The rank is made unique by "
    "the (quality, doc_id) tiebreak so percent_rank is deterministic and "
    "bit-identical cross-engine ((rank-1)/(n-1), one IEEE division of "
    "exact integers). NULL lang forms its own group in both engines; NULL "
    "doc_id rows excluded (the tiebreak ordering would be engine-"
    "dependent). A single-document language is KEPT (percent_rank is 0 "
    "for a 1-row partition in both engines, which would silently discard "
    "exactly the language the relative cut exists to protect). Scale: ONE "
    "shuffle on lang; per-language partitions are "
    "skewed at corpus scale, so the 100 TB path replaces the exact window "
    "with either the two-phase range-partition rank (the "
    "global_shuffle_index machinery keyed by (lang, quality)) or a "
    "per-language quantile threshold from sketch_histogram_quantiles.",
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from petfinder_database_distributor_spark.operators.text import (
        quality_score_from_tokens,
        tokens,
    )
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    )
    t = F.col("text")
    # quality_score_from_tokens references its token
    # argument ~6x through interpreted HOF slots (no codegen CSE) — an
    # inline tokens(t) tokenized every document ~6x/row. Materialize the
    # array once (the text_quality_score two-stage pattern).
    scored = docs.select(
        "doc_id", "lang", t, tokens(t).alias("__toks")
    ).select(
        "doc_id",
        "lang",
        F.round(quality_score_from_tokens(t, F.col("__toks")), 6).alias("quality"),
    )
    win = Window.partitionBy("lang").orderBy("quality", "doc_id")
    n_lang = F.count(F.lit(1)).over(Window.partitionBy("lang"))
    return (
        scored.withColumn("pct_rank", F.round(F.percent_rank().over(win), 6))
        .withColumn("n_lang", n_lang)
        .filter((F.col("pct_rank") >= 0.25) | (F.col("n_lang") == 1))
        .drop("n_lang")
    )


@register(
    "dedup_span_overlap",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    chunks AS (
      SELECT doc_id, m.m AS pos,
             {MD5INT_SQL.format(x="array_to_string(t[m.m + 1 : m.m + 8], ' ')")} AS h
      FROM toks, unnest(range(len(t) - 7)) m(m)
      WHERE len(t) >= 8),
    capped AS (
      SELECT * FROM chunks
      WHERE h IN (SELECT h FROM chunks GROUP BY h
                  HAVING count(*) BETWEEN 2 AND 32)),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, a.pos - b.pos AS d
      FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, d, pos_a,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                        ORDER BY pos_a) AS run_id
      FROM (SELECT DISTINCT doc_a, doc_b, pos_a, d FROM hits))
    SELECT doc_a, doc_b,
           min(pos_a)::BIGINT AS start_a,
           (min(pos_a) - d)::BIGINT AS start_b,
           count(*)::BIGINT AS n_chunks,
           (count(*) + 7)::BIGINT AS span_tokens
    FROM runs GROUP BY doc_a, doc_b, d, run_id
    HAVING count(*) >= 5
    """,
    doc="Exact repeated-SPAN detection across documents — the substring "
    "dedup of Lee et al. 2022 ('Deduplicating Training Data Makes "
    "Language Models Better') in bulk-relational form: stride-1 8-token "
    "chunks hashed to the 60-bit md5int primitive, a df-capped postings "
    "self-join (2 <= df <= 32 — singleton chunks can't pair, hot "
    "boilerplate chunks are dedup_boilerplate_strip's job and would "
    "explode the join quadratically), then maximal diagonal runs: "
    "within a doc pair, matches on the same alignment d = pos_a - pos_b "
    "with consecutive positions ARE a shared contiguous span, recovered "
    "by the classic pos - row_number() run-id trick (one window over "
    "the candidate pairs, never the corpus). Spans of >= 5 chunks "
    "(>= 12 shared tokens) survive. The whole plan is: narrow chunk "
    "projection -> one count shuffle (df cap) -> one equi-join on the "
    "hash -> one (doc_a, doc_b, d)-keyed window — every stage bounded "
    "by true near-dup density, nothing all-pairs. At 100 TB the output "
    "feeds span EXCISION (cut the repeated bytes, keep the rest), which "
    "document-level dedup can't do.",
)
def dedup_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return _span_overlap_frame(docs)


def _span_overlap_frame(docs: DataFrame) -> DataFrame:
    """Shared core of dedup_span_overlap / corpus_span_excision: maximal
    cross-document repeated spans as (doc_a, doc_b, start_a, start_b,
    n_chunks, span_tokens) — see the registration docstring above for the
    algorithm and its bounds."""
    from pyspark.sql.window import Window

    from petfinder_database_distributor_spark.operators.text import md5int, tokens
    from petfinder_database_distributor_spark.util import pushdown_barrier

    # pushdown_barrier: without it the size(t) >= 8 filter is pushed
    # below this projection with the WHOLE tokenize tree substituted into
    # the Filter condition, so every document tokenizes twice (Filter +
    # Project each carry a split/translate chain). The barrier keeps the
    # filter above the projection, reading the computed `t` attribute:
    # one tokenize/row.
    toks = tokens(F.col("text"))
    chunks = (
        docs.select("doc_id", pushdown_barrier(toks).alias("t"))
        .filter(F.size("t") >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 7),
                    lambda m: md5int(F.concat_ws(" ", F.slice(F.col("t"), m, 8))),
                )
            ).alias("pos", "h"),
        )
    )
    counts = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    capped = chunks.join(
        counts.filter(F.col("df").between(2, 32)).select("h"), "h"
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    hits = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("d")
        )
        .dropDuplicates(["doc_a", "doc_b", "pos_a", "d"])
    )
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    runs = hits.withColumn(
        "run_id", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "d", "run_id")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.min("pos_a") - F.col("d")).alias("start_b"),
            F.count(F.lit(1)).alias("n_chunks"),
            (F.count(F.lit(1)) + 7).alias("span_tokens"),
        )
        .filter(F.col("n_chunks") >= 5)
        .select("doc_a", "doc_b", "start_a", "start_b", "n_chunks", "span_tokens")
    )


@register(
    "embedding_gram_matrix",
    oracle="""
    WITH q AS (SELECT list_transform(embedding::DOUBLE[], x -> round(x * 1000)) AS qe
               FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0)
    SELECT i.i AS i, j.j AS j,
           sum(qe[i.i + 1] * qe[j.j + 1])::BIGINT AS s,
           count(*)::BIGINT AS n
    FROM q, unnest(range(64)) i(i), unnest(range(64)) j(j)
    WHERE j.j >= i.i
    GROUP BY 1, 2
    """,
    doc="Distributed PCA, the part that actually touches data: the exact "
    "integer Gram matrix X^T X of the quantized embedding corpus, upper "
    "triangle as (i, j, sum, n) rows. ONE corpus pass, and the aggregate "
    "state is bounded by d(d+1)/2 = 2080 keys — at 100 TB the shuffle "
    "carries 2080 partials per task regardless of corpus size (map-side "
    "combine collapses the per-row pair explosion before the exchange), "
    "after which the eigendecomposition is an O(d^3) driver/NumPy step "
    "on a 64x64 matrix, the same split every large-scale PCA uses "
    "(compute covariance distributed, decompose locally). Integer "
    "products of 1000-scaled values are exact int64s (|qe| <= ~1000, "
    "n*1e6 << 2^63), so the matrix is bit-identical cross-engine — the "
    "eigen step is deliberately NOT in the query (LAPACK results carry "
    "sign/ordering ambiguity no oracle can pin). The data plane is an "
    "Arrow kernel, not an expression explode: quantization stays "
    "JVM-side (F.round — no numpy rounding-mode drift can enter the "
    "contract), then each Arrow batch contributes ONE batch-local "
    "integer matmul X_b^T X_b (exact int64) and emits its 2080 "
    "upper-triangle partials — measured ~7x cheaper at 8x scale than "
    "the per-row 2080-struct explode it replaced, with the same "
    "bounded shuffle.",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from petfinder_database_distributor_spark.operators.similarity import quantize

    emb = _load_embeddings(spark, sf_dir)
    qe = quantize(F.col("embedding"), 1000)
    out_schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("j", IntegerType(), False),
            StructField("s", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def gram_batches(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            g = m.T @ m  # exact: integer matmul, no floats anywhere
            yield pd.DataFrame(
                {
                    "i": iu[0].astype(np.int32),
                    "j": iu[1].astype(np.int32),
                    "s": g[iu],
                    "n": np.int64(len(pdf)),
                }
            )

    partials = emb.select(qe.alias("qe")).mapInPandas(gram_batches, out_schema)
    return partials.groupBy("i", "j").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    )


@register(
    "corpus_span_excision",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    chunks AS (
      SELECT doc_id, m.m AS pos,
             {MD5INT_SQL.format(x="array_to_string(t[m.m + 1 : m.m + 8], ' ')")} AS h
      FROM toks, unnest(range(len(t) - 7)) m(m)
      WHERE len(t) >= 8),
    capped AS (
      SELECT * FROM chunks
      WHERE h IN (SELECT h FROM chunks GROUP BY h
                  HAVING count(*) BETWEEN 2 AND 32)),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, a.pos - b.pos AS d
      FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, d, pos_a,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                        ORDER BY pos_a) AS run_id
      FROM (SELECT DISTINCT doc_a, doc_b, pos_a, d FROM hits)),
    spans AS (
      SELECT doc_a, doc_b, (min(pos_a) - d)::BIGINT AS start_b,
             count(*)::BIGINT AS n_chunks
      FROM runs GROUP BY doc_a, doc_b, d, run_id
      HAVING count(*) >= 5),
    dead AS (
      SELECT DISTINCT doc_b AS doc_id, start_b + r.i AS pos
      FROM spans, unnest(range(n_chunks + 7)) r(i))
    SELECT t.doc_id,
           len(t.t)::BIGINT AS n_tokens_before,
           (len(t.t) - coalesce(dd.n_dead, 0))::BIGINT AS n_tokens_after
    FROM toks t
    LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n_dead
               FROM dead GROUP BY 1) dd USING (doc_id)
    WHERE t.doc_id IS NOT NULL
    """,
    doc="Span EXCISION — the action dedup_span_overlap's output exists "
    "for (Lee et al. 2022 cut repeated substrings rather than dropping "
    "documents): every detected shared span is removed from the "
    "HIGHER-id document of its pair (the lower id stays canonical, the "
    "same keep-min convention as the dedup family), and the query "
    "reports per-document token counts before/after. Overlapping spans "
    "from different pairs union position-wise (explode span -> distinct "
    "(doc, pos) -> one anti-semantics count join), so double-covered "
    "tokens are excised once — interval union as bulk relations, no "
    "per-doc loops. Cost is bounded by TOTAL SPAN LENGTH (true "
    "duplication mass), not corpus size; docs without spans pass "
    "through via the left join. At 100 TB this is the byte-recovery "
    "step document-level dedup can't do: near-identical docs keep their "
    "unique tails, only the repeated middle dies.",
)
def corpus_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import tokens
    from petfinder_database_distributor_spark.util import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    )
    spans = _span_overlap_frame(docs)
    dead = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("n_chunks") + F.lit(6),
                )
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dead"))
    )
    per_doc = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
    return per_doc.join(dead, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens_before"),
        (F.col("n") - F.coalesce(F.col("n_dead"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_after"),
    )


# ---------------------------------------------------------------------------
# text_gopher_rules
# ---------------------------------------------------------------------------

# Gopher's stop-word rule ("contains at least 2 of a required stop-word
# set") parameterized with the repo-wide DEFAULT_STOPWORDS (operators/
# text.py) instead of the paper's English 8 ('be'/'to'/'that'/... never
# occur in the synthetic corpus vocabulary, which would make the rule a
# constant-false — a production deployment swaps the list per language).
# Imported, not copied, so the two lists cannot drift.
_GOPHER_STOPS = DEFAULT_STOPWORDS


def _gopher_oracle() -> str:
    stop_sum = " + ".join(
        f"CASE WHEN list_contains(t, '{s}') THEN 1 ELSE 0 END"
        for s in _GOPHER_STOPS
    )
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    base AS (
      SELECT doc_id, coalesce(text, '') AS raw, t,
             len(t)::BIGINT AS n,
             coalesce(list_sum(list_transform(t, w -> length(w))), 0)::BIGINT AS chars,
             len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::BIGINT AS alpha_w,
             ({stop_sum})::BIGINT AS stops
      FROM toks),
    m AS (
      SELECT doc_id, n,
             CASE WHEN n > 0 THEN chars * 1000 // n ELSE 0 END AS mwl_milli,
             (length(raw) - length(replace(raw, '#', '')))::BIGINT AS hash_cnt,
             ((length(raw) - length(replace(raw, '...', ''))) // 3)::BIGINT AS ell_cnt,
             string_split(raw, chr(10)) AS lines,
             alpha_w, stops
      FROM base),
    l AS (
      SELECT doc_id, n, mwl_milli, hash_cnt, ell_cnt, alpha_w, stops,
             len(lines)::BIGINT AS n_lines,
             len(list_filter(lines, x -> starts_with(ltrim(x), '- ')
                                       OR starts_with(ltrim(x), '* ')
                                       OR starts_with(ltrim(x), '•')))::BIGINT AS bullet_lines,
             len(list_filter(lines, x -> ends_with(rtrim(x), '...')))::BIGINT AS endell_lines
      FROM m)
    SELECT doc_id, n AS n_words, mwl_milli,
           (n BETWEEN 50 AND 100000) AS r_wordcount,
           (mwl_milli BETWEEN 3000 AND 10000) AS r_meanwordlen,
           (hash_cnt * 10 <= n AND ell_cnt * 10 <= n) AS r_symbol,
           (bullet_lines * 10 <= 9 * n_lines) AS r_bullet,
           (endell_lines * 10 <= 3 * n_lines) AS r_ellipsis,
           (alpha_w * 5 >= 4 * n) AS r_alpha,
           (stops >= 2) AS r_stopwords,
           ((n BETWEEN 50 AND 100000)
            AND (mwl_milli BETWEEN 3000 AND 10000)
            AND (hash_cnt * 10 <= n AND ell_cnt * 10 <= n)
            AND (bullet_lines * 10 <= 9 * n_lines)
            AND (endell_lines * 10 <= 3 * n_lines)
            AND (alpha_w * 5 >= 4 * n)
            AND (stops >= 2)) AS keep
    FROM l
    """


@register("text_gopher_rules", oracle=_gopher_oracle())
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality rule set (Rae et al. 2021, appendix A1.1)
    as per-rule flags — the rule-level transparency a production corpus
    pipeline needs for ablations, where text_quality_score collapses four
    signals into one scalar: word count in [50, 100k]; mean word length
    in [3, 10] (milli-integer — no float division); symbol-to-word ratio
    <= 0.1 for EACH of '#' and '...' separately (the paper applies the
    threshold per symbol); <= 90% of lines bullet-led; <= 30% of
    lines ellipsis-terminated; >= 80% of words containing an [a-z]
    letter; >= 2 distinct required stopwords present. Every comparison is
    integer cross-multiplication (ratio <= p/q as q*count <= p*total) —
    zero float arithmetic, so both engines agree bit-for-bit. Plan: pure
    per-row narrow projections over one tokenization — no joins, no
    shuffles, no UDFs; at 100 TB this is a single embarrassingly-parallel
    scan with full column pruning."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.coalesce(F.col("text"), F.lit(""))
    # The flags below reference the token array ~9x
    # (size, aggregate, filter, one array_contains per required stopword)
    # through interpreted HOF slots, which get no codegen CSE — inline,
    # every document tokenized ~9x/row. Materialize the array once.
    toked = docs.select(
        "doc_id", F.col("text"), tokens(F.col("text")).alias("__toks")
    )
    t = F.col("__toks")
    base = toked.select(
        "doc_id",
        raw.alias("raw"),
        t.alias("t"),
        F.size(t).cast("long").alias("n"),
        F.coalesce(
            F.aggregate(
                t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ),
            F.lit(0),
        ).alias("chars"),
        F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("long").alias("alpha_w"),
        sum(
            [
                F.when(F.array_contains(t, s), F.lit(1)).otherwise(F.lit(0))
                for s in _GOPHER_STOPS
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("stops"),
    )
    m = base.select(
        "doc_id",
        "n",
        F.when(F.col("n") > 0, F.expr("chars * 1000 div n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mwl_milli"),
        (F.length("raw") - F.length(F.expr("replace(raw, '#', '')")))
        .cast("long")
        .alias("hash_cnt"),
        F.expr("(length(raw) - length(replace(raw, '...', ''))) div 3")
        .cast("long")
        .alias("ell_cnt"),
        F.split(F.col("raw"), "\n", -1).alias("lines"),
        "alpha_w",
        "stops",
    )
    is_bullet = (
        lambda x: F.ltrim(x).startswith("- ")
        | F.ltrim(x).startswith("* ")
        | F.ltrim(x).startswith("•")
    )
    l = m.select(
        "doc_id",
        "n",
        "mwl_milli",
        "hash_cnt",
        "ell_cnt",
        "alpha_w",
        "stops",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.filter(F.col("lines"), is_bullet)).cast("long").alias("bullet_lines"),
        F.size(F.filter(F.col("lines"), lambda x: F.rtrim(x).endswith("...")))
        .cast("long")
        .alias("endell_lines"),
    )
    r_wc = F.col("n").between(50, 100000)
    r_mwl = F.col("mwl_milli").between(3000, 10000)
    r_sym = (F.col("hash_cnt") * 10 <= F.col("n")) & (
        F.col("ell_cnt") * 10 <= F.col("n")
    )
    r_bul = F.col("bullet_lines") * 10 <= 9 * F.col("n_lines")
    r_ell = F.col("endell_lines") * 10 <= 3 * F.col("n_lines")
    r_alp = F.col("alpha_w") * 5 >= 4 * F.col("n")
    r_stp = F.col("stops") >= 2
    return l.select(
        "doc_id",
        F.col("n").alias("n_words"),
        "mwl_milli",
        r_wc.alias("r_wordcount"),
        r_mwl.alias("r_meanwordlen"),
        r_sym.alias("r_symbol"),
        r_bul.alias("r_bullet"),
        r_ell.alias("r_ellipsis"),
        r_alp.alias("r_alpha"),
        r_stp.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_bul & r_ell & r_alp & r_stp).alias("keep"),
    )


# ---------------------------------------------------------------------------
# text_c4_rules
# ---------------------------------------------------------------------------

# A kept line ends in terminal punctuation AND carries >= 5 words AND
# does not mention javascript (C4 drops those outright). Document gates:
# >= 3 kept lines (the sentence-count proxy — the fixture has no
# sentence segmenter, and C4's own gate is "at least 3 sentences"),
# no 'lorem ipsum', no '{'.
_C4_MIN_WORDS = 5
_C4_MIN_KEPT_LINES = 3
_C4_TERMINALS = (".", "!", "?", '"')


def _c4_oracle() -> str:
    term = " OR ".join(
        f"ends_with(rtrim(x), '{t}')" for t in _C4_TERMINALS
    ).replace('"', '"')
    # DuckDB needs the double-quote terminal escaped inside the lambda
    term = term.replace("ends_with(rtrim(x), '\"')", "ends_with(rtrim(x), chr(34))")
    nwords = (
        "len(list_filter(string_split_regex(x, '\\s+'), w -> w <> ''))"
    )
    return f"""
    WITH l AS (
      SELECT doc_id,
             string_split(coalesce(text, ''), chr(10)) AS lines,
             contains(lower(coalesce(text, '')), 'lorem ipsum') AS has_lorem,
             contains(coalesce(text, ''), '{{') AS has_brace
      FROM documents WHERE doc_id IS NOT NULL),
    m AS (
      SELECT doc_id, has_lorem, has_brace,
             len(lines)::BIGINT AS n_lines,
             len(list_filter(lines, x -> ({term})
                   AND {nwords} >= {_C4_MIN_WORDS}
                   AND NOT contains(lower(x), 'javascript')))::BIGINT AS kept_lines,
             len(list_filter(lines, x -> NOT ({term})))::BIGINT AS dropped_punct,
             len(list_filter(lines, x -> {nwords} < {_C4_MIN_WORDS}))::BIGINT AS dropped_short
      FROM l)
    SELECT doc_id, n_lines, kept_lines, dropped_punct, dropped_short,
           has_lorem, has_brace,
           (kept_lines >= {_C4_MIN_KEPT_LINES}
            AND NOT has_lorem AND NOT has_brace) AS keep
    FROM m
    """


@register("text_c4_rules", oracle=_c4_oracle())
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) as per-rule flags —
    line gates (ends in terminal punctuation; >= 5 words; no
    'javascript') counted per document, document gates (>= 3 kept lines
    as the sentence proxy; no 'lorem ipsum'; no '{') as booleans, and
    the composite keep. All counting is integer, all predicates are
    byte-exact string tests, so both engines agree bit-for-bit. On the
    punctuation-free synthetic corpus the verdict is constant-reject —
    C4's verbatim answer for non-prose (the terminal-punctuation gate is
    the C4 rule that bites hardest on web text too); the per-rule
    counters are the ablation surface, and the synthetic-edge test pins
    each gate in isolation. Plan:
    ONE narrow projection over one split — no joins, no shuffles, no
    UDFs; at 100 TB an embarrassingly-parallel scan with full column
    pruning, the same shape as text_gopher_rules."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    raw = F.coalesce(F.col("text"), F.lit(""))
    # The four line-counters below each reference the
    # line array from interpreted HOF slots (no codegen CSE) — inline,
    # every document re-split 4x/row. Materialize the split once.
    lined = docs.select(
        "doc_id", F.col("text"), F.split(raw, "\n", -1).alias("__lines")
    )
    lines = F.col("__lines")

    def is_term(x: Column) -> Column:
        r = F.rtrim(x)
        out = r.endswith(_C4_TERMINALS[0])
        for t in _C4_TERMINALS[1:]:
            out = out | r.endswith(t)
        return out

    def n_words(x: Column) -> Column:
        return F.size(F.filter(F.split(x, r"\s+", -1), lambda w: w != ""))

    kept = F.filter(
        lines,
        lambda x: is_term(x)
        & (n_words(x) >= _C4_MIN_WORDS)
        & ~F.lower(x).contains("javascript"),
    )
    m = lined.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        F.size(F.filter(lines, lambda x: ~is_term(x))).cast("long").alias("dropped_punct"),
        F.size(F.filter(lines, lambda x: n_words(x) < _C4_MIN_WORDS))
        .cast("long")
        .alias("dropped_short"),
        F.lower(raw).contains("lorem ipsum").alias("has_lorem"),
        raw.contains("{").alias("has_brace"),
    )
    return m.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "dropped_punct",
        "dropped_short",
        "has_lorem",
        "has_brace",
        (
            (F.col("kept_lines") >= _C4_MIN_KEPT_LINES)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# text_gopher_repetition
# ---------------------------------------------------------------------------

# Gopher A1.2 repetition thresholds, in ppm of document characters:
# top-2-gram <= 20%, top-3 <= 18%, top-4 <= 16%, duplicated-5-gram
# <= 15%. (The paper also gates n = 6..10 and duplicate lines/paragraphs;
# the 2-4 top-gram + 5-dup-gram core is the discriminative half on
# single-line corpora, and the line half lives in text_c4_rules'
# counters.) A gram's character mass is the length of its joined
# "a b c" form times its occurrence count; the denominator is the
# token-joined document length — both integer, so every rule is an
# exact cross-multiplication-free ppm compare on identical integers.
_REP_RULES = {2: 200_000, 3: 180_000, 4: 160_000}
_REP_DUP_N = 5
_REP_DUP_PPM = 150_000


def _repetition_oracle() -> str:
    gram_sel = "\n      UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, g FROM base, "
        f"unnest([list_aggr(t[i:i+{n - 1}], 'string_agg', ' ') "
        f"for i in range(1, len(t) - {n - 2})]) u(g)"
        for n in (*_REP_RULES, _REP_DUP_N)
    )
    top_cols = ", ".join(
        f"coalesce(max(CASE WHEN n = {n} AND rk = 1 THEN mass END), 0) AS m{n}"
        for n in _REP_RULES
    )
    rules = " AND ".join(
        f"(m{n} * 1000000 <= {ppm} * denom)" for n, ppm in _REP_RULES.items()
    )
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    base AS (
      SELECT doc_id, t,
             greatest(length(list_aggr(t, 'string_agg', ' ')), 1) AS denom
      FROM (SELECT doc_id, t FROM toks WHERE doc_id IS NOT NULL) _
    ),
    grams AS ({gram_sel}),
    cnt AS (SELECT doc_id, n, g, count(*)::BIGINT AS c,
                   (count(*) * length(g))::BIGINT AS mass
            FROM grams GROUP BY 1, 2, 3),
    ranked AS (SELECT doc_id, n, mass,
                      row_number() OVER (PARTITION BY doc_id, n
                                         ORDER BY c DESC, g) AS rk
               FROM cnt WHERE n < {_REP_DUP_N}),
    tops AS (SELECT doc_id, {top_cols} FROM ranked GROUP BY doc_id),
    dups AS (SELECT doc_id, sum(mass)::BIGINT AS dupmass
             FROM cnt WHERE n = {_REP_DUP_N} AND c >= 2 GROUP BY doc_id)
    SELECT b.doc_id,
           len(b.t)::BIGINT AS n_tokens,
           b.denom::BIGINT AS denom_chars,
           {", ".join(f"least(coalesce(m{n}, 0), b.denom) * 1000000 // b.denom AS top{n}_ppm" for n in _REP_RULES)},
           least(coalesce(d.dupmass, 0), b.denom) * 1000000 // b.denom AS dup{_REP_DUP_N}_ppm,
           {", ".join(f"(least(coalesce(m{n}, 0), b.denom) * 1000000 <= {ppm} * b.denom) AS r_top{n}" for n, ppm in _REP_RULES.items())},
           (least(coalesce(d.dupmass, 0), b.denom) * 1000000
              <= {_REP_DUP_PPM} * b.denom) AS r_dup{_REP_DUP_N},
           ({" AND ".join(f"least(coalesce(m{n}, 0), b.denom) * 1000000 <= {ppm} * b.denom" for n, ppm in _REP_RULES.items())}
            AND least(coalesce(d.dupmass, 0), b.denom) * 1000000
                  <= {_REP_DUP_PPM} * b.denom) AS keep
    FROM base b
    LEFT JOIN tops ON tops.doc_id = b.doc_id
    LEFT JOIN dups d ON d.doc_id = b.doc_id
    """


@register("text_gopher_repetition", oracle=_repetition_oracle())
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's repetition-removal rules (Rae et al. 2021, A1.2, n-gram
    half) as per-rule flags: the character fraction claimed by the single
    most frequent 2-/3-/4-gram must stay under 20/18/16%, and characters
    inside DUPLICATED 5-grams (occurring twice or more) under 15% —
    the "same phrase looping" failure mode of scraped text that slips
    past length/vocabulary gates (each occurrence counts its full
    character span; the paper's overlap de-double-count is simplified,
    identically in both engines, with the mass capped at the document
    length). Integer-exact: gram mass = occurrences x joined-gram length,
    denominator = token-joined document length, every rule an integer
    ppm compare; top-gram ties break lexicographically. Plan: ONE
    explode of tagged 2/3/4/5-grams -> ONE (doc, n, gram) count agg with
    map-side partials -> a (doc, n)-PARTITIONED rank window (never
    global) -> two per-doc joins back to the token base. At 100 TB
    everything is keyed by doc_id — embarrassingly parallel after the
    one gram-count shuffle, the same budget as the bigram/shingle
    family."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    # t and denom both need the token array — inline,
    # the checkpoint job tokenized every document twice; materialize the
    # array in its own projection (referenced 2x, CollapseProject keeps
    # the two-stage shape) so the checkpoint pays one tokenize per row.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    tk = F.col("__toks")
    base = toked.select(
        "doc_id",
        tk.alias("t"),
        F.greatest(F.length(F.array_join(tk, " ")), F.lit(1)).alias("denom"),
    ).localCheckpoint(eager=True)

    def grams(n: int) -> Column:
        # [t[i] || ' ' || ... for each window of n] — the shingle
        # pattern. The short-doc guard must be a CASE, not greatest(..,0):
        # Spark's sequence(1, 0) yields the DESCENDING [1, 0] and the 0
        # start crashes slice (caught by the extremes sweep's 1-token doc).
        return F.expr(
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(1, size(t) - {n - 1}), "
            f"i -> array_join(slice(t, i, {n}), ' ')) "
            f"ELSE array() END"
        )

    tagged = None
    for n in (*_REP_RULES, _REP_DUP_N):
        part = base.select(
            "doc_id", F.lit(n).alias("n"), F.explode(grams(n)).alias("g")
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    cnt = tagged.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("c"),
        (F.count(F.lit(1)) * F.length("g")).cast("long").alias("mass"),
    )
    # ONE consumption of the gram-count frame: per (doc, n) the top-1
    # mass rides a struct-min ((-count, gram, mass) — max count, then
    # lexicographically smallest gram; no window, no second shuffle of
    # cnt) and the duplicated mass is a conditional sum in the SAME agg.
    per_n = cnt.groupBy("doc_id", "n").agg(
        F.min(
            F.struct(
                (-F.col("c")).alias("nc"), F.col("g").alias("g"),
                F.col("mass").alias("mass"),
            )
        )["mass"].alias("topmass"),
        F.sum(F.when(F.col("c") >= 2, F.col("mass"))).alias("dupmass_n"),
    )
    per_doc = per_n.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("topmass"))), F.lit(0)
            ).alias(f"m{n}")
            for n in _REP_RULES
        ],
        F.max(F.when(F.col("n") == _REP_DUP_N, F.col("dupmass_n"))).alias(
            "dupmass"
        ),
    )
    j = (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.col("denom").cast("long").alias("denom_chars"),
            # least(mass, denom): occurrences of a SELF-OVERLAPPING gram
            # ("the the the...") jointly cover more characters than the
            # document holds under the per-occurrence count — cap at 100%
            # (identical cap in the oracle; rule outcomes are unaffected
            # since any capped mass already exceeds every threshold)
            *[
                F.least(F.coalesce(F.col(f"m{n}"), F.lit(0)), F.col("denom"))
                .cast("long")
                .alias(f"m{n}")
                for n in _REP_RULES
            ],
            F.least(F.coalesce(F.col("dupmass"), F.lit(0)), F.col("denom"))
            .cast("long")
            .alias("dupmass"),
        )
    )
    rule_cols = [
        (F.col(f"m{n}") * 1000000 <= F.lit(ppm) * F.col("denom_chars")).alias(
            f"r_top{n}"
        )
        for n, ppm in _REP_RULES.items()
    ]
    keep = (
        F.col("dupmass") * 1000000 <= F.lit(_REP_DUP_PPM) * F.col("denom_chars")
    )
    for n, ppm in _REP_RULES.items():
        keep = keep & (F.col(f"m{n}") * 1000000 <= F.lit(ppm) * F.col("denom_chars"))
    return j.select(
        "doc_id",
        "n_tokens",
        "denom_chars",
        *[
            F.expr(f"m{n} * 1000000 div denom_chars").alias(f"top{n}_ppm")
            for n in _REP_RULES
        ],
        F.expr("dupmass * 1000000 div denom_chars").alias(f"dup{_REP_DUP_N}_ppm"),
        *rule_cols,
        (
            F.col("dupmass") * 1000000
            <= F.lit(_REP_DUP_PPM) * F.col("denom_chars")
        ).alias(f"r_dup{_REP_DUP_N}"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# sketch_kmv_distinct
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_M = 1 << 60  # md5int hash space


def _kmv_oracle() -> str:
    h = MD5INT_SQL.format(x="user_id::VARCHAR")
    est = (
        f"CASE WHEN cnt < {_KMV_K} THEN cnt"
        f" ELSE (({_KMV_K} - 1)::HUGEINT * {_KMV_M} // kth)::BIGINT END"
    )
    return f"""
    WITH hx AS (SELECT DISTINCT event_type AS scope, {h} AS h
                FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    ranked AS (SELECT scope, h,
                      row_number() OVER (PARTITION BY scope ORDER BY h) AS rk
               FROM hx),
    groups AS (SELECT scope, count(*) AS cnt,
                      max(h) FILTER (WHERE rk <= {_KMV_K}) AS kth
               FROM ranked GROUP BY scope),
    allh AS (SELECT DISTINCT h FROM hx),
    allr AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM allh),
    allg AS (SELECT 'ALL' AS scope, count(*) AS cnt,
                    max(h) FILTER (WHERE rk <= {_KMV_K}) AS kth
             FROM allr HAVING count(*) > 0)
    SELECT scope, cnt::BIGINT AS n_exact, {est} AS est_distinct,
           CASE WHEN cnt >= {_KMV_K} THEN kth ELSE NULL END AS kth_hash
    FROM (SELECT * FROM groups UNION ALL SELECT * FROM allg)
    """


@register("sketch_kmv_distinct", oracle=_kmv_oracle())
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002; the theta
    sketch of Apache DataSketches) over events.user_id, per event_type
    and merged: keep the k=64 smallest 60-bit hashes per group; estimate
    distinct = (k-1) * M / h_k when the register is full, exact count
    below k. The fourth portable sketch beside HLL/CMS/Bloom, and the
    one with the cleanest MERGE story: the union of two registers'
    k-minima contains the union's k-minima, so merged == direct-built —
    the 'ALL' row here is computed from the same hash set the per-group
    registers see, and tests/test_sketches.py pins merged-register ==
    direct-register equality explicitly. Integer-exact end to end
    (md5int hashes, HUGEINT/decimal(38,0) for the (k-1)*2^60 numerator
    that overflows int64), so both engines agree bit-for-bit; exact
    distinct (n_exact) rides along as the error witness. Plan shape: one
    distinct hash-agg (map-side partial), per-group top-k through a
    PARTITIONED window over distinct hashes, global top-k through
    orderBy().limit() (TakeOrderedAndProject) — at 100 TB the register
    per group is 64 longs (512 bytes), the whole point of a sketch."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    hx = ev.select(
        F.col("event_type").alias("scope"),
        md5int(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("scope").orderBy("h")
    groups = (
        hx.withColumn("rk", F.row_number().over(w))
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max(F.when(F.col("rk") <= _KMV_K, F.col("h"))).alias("kth"),
        )
    )
    allh = hx.select("h").distinct()
    allg = (
        allh.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("kth"),
        )
        .crossJoin(F.broadcast(allh.agg(F.count(F.lit(1)).alias("cnt"))))
        .filter(F.col("cnt") > 0)
        .select(F.lit("ALL").alias("scope"), "cnt", "kth")
    )
    both = groups.unionByName(allg)
    est = F.when(F.col("cnt") < _KMV_K, F.col("cnt")).otherwise(
        F.expr(
            f"CAST(CAST({_KMV_K - 1} AS DECIMAL(38,0)) * {_KMV_M} div kth AS BIGINT)"
        )
    )
    return both.select(
        "scope",
        F.col("cnt").cast("long").alias("n_exact"),
        est.cast("long").alias("est_distinct"),
        F.when(F.col("cnt") >= _KMV_K, F.col("kth")).alias("kth_hash"),
    )
