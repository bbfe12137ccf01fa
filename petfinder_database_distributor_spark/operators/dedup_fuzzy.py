"""Fuzzy / near-duplicate detection for LLM-data pipelines (north star):
exact (fingerprint) dedup, blocked n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB posture):
- Never all-pairs. Candidate generation is always a *blocked equi-join*
  (LSH band buckets, or size bands) so the shuffle keys are
  (band, bucket-hash) — bounded fan-in, AQE-skew-handled. Exact similarity
  runs only on candidates.
- All hashes derive from the portable ``md5int`` (operators/text.py), so
  every stage is deterministic and oracle-checkable value-for-value.
- MinHash family: h_i(x) = ((2i+1)·(x mod P) + (17i+3)) mod P over the
  Mersenne prime P = 2^31-1; banding with r rows/band means two docs become
  candidates iff some band of their signatures agrees exactly — the
  standard LSH S-curve (Leskovec et al., Mining of Massive Datasets, ch.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from petfinder_database_distributor_spark.operators.text import (
    MERSENNE_P,
    bag_of_words_fingerprint,
    md5int,
    shingles,
    tokens,
)
from petfinder_database_distributor_spark.util import (
    ensure_parallelism,
    execution_guard,
    pushdown_barrier,
)


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact (order/repetition-invariant) dedup: fingerprint = md5 of sorted
    distinct tokens; keeps the smallest id as representative and counts the
    group. One hash-shuffle on the fingerprint."""
    fp = df.select(
        F.col(id_col), bag_of_words_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    # ONE tokenize per document. Two separate
    # multipliers previously re-ran the tokenize chain per row:
    #
    # 1. Filter duplication: dropping the explicit size(sh) > 0 filter
    #    is a no-op — InferFiltersFromGenerate re-infers
    #    `size(sh) > 0 AND isnotnull(sh)` from every downstream explode
    #    and pushes it below this projection, inlining the whole
    #    tokenize+shingle tree into the Filter (the plan then carries
    #    duplicated split/translate chains).
    #    pushdown_barrier makes the sh field non-deterministic so no
    #    filter can cross the projection: inferred filters stay above and
    #    read the computed attribute.
    # 2. HOF fan-out: shingles() references its token-array argument 5×
    #    (the zip_with chain + two slice/size pairs), higher-order
    #    functions evaluate interpreted (no codegen CSE), so an inline
    #    tokens(text) ran ~5× per row. Materializing the token array in
    #    its OWN projection (referenced 5×, so CollapseProject keeps it —
    #    the text_lang_id two-stage pattern) makes the shingle pass read
    #    a computed attribute.
    #
    # Semantics unchanged: the barrier is value-identical, and empty-sh
    # rows still emit nothing from every consumer's explode/join.
    toked = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    return toked.select(
        F.col(id_col),
        pushdown_barrier(shingles(F.col("__toks"), n)).alias("sh"),
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
    max_join_rows: int | None = 100_000_000,
    hot_cap: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """EXACT near-dup pairs by word-n-gram Jaccard via an inverted-index
    self-join: explode shingles into postings, equi-join postings on the
    shingle, group-count shared shingles (= |A∩B|), then Jaccard from
    counts alone: |A∩B| / (|A| + |B| - |A∩B|).

    Exact for any threshold > 0 — a qualifying pair shares >= 1 shingle, so
    the postings join loses nothing — yet never materializes all-pairs:
    shuffle volume is Σ df(s)² over distinct shingles (the inverted-index
    bound). That bound is QUADRATIC in duplication: the 8x-replica scaling
    probe measured 19x wall growth uncapped. Three postures:

    * ``df_cap``: drop postings of shingles appearing in more than
      ``df_cap`` docs BEFORE the join (one extra count-aggregate pass) —
      near-linear scaling, conservative results (hot shared shingles no
      longer count toward |A∩B|, so Jaccard only UNDERestimates: no false
      positives, bounded recall loss on stopword-shingle overlap).
    * ``hot_cap``: EXACT results with the quadratic hot-shingle work
      spread evenly, via a salted two-phase join.
      Shingles with df <= hot_cap join directly. For each hot shingle
      the posting list buckets into s = ceil(df/hot_cap) id-hash salts;
      side A carries its own bucket i and replicates over all j, side B
      carries j and replicates over all i, and the join key becomes
      (shingle, i, j) — every pair still meets exactly once (at
      i=bucket(a), j=bucket(b)), so the intersection counts are
      unchanged, but per-reducer work drops from df² on ONE hot key to
      ~hot_cap² per salted key. Total work stays Σ df(s)² (exactness
      requires it — every co-occurrence is counted); salting buys even
      parallelization instead of a straggler reducer. The salt hash
      never touches results, so the DuckDB oracle is the plain exact
      SQL. Measured at 8x heavy duplication: 30s wall vs ~74s raw
      (11.0x growth vs 19.2x; the true pair output itself grows ~28x).
      A prefix-filter+verify variant (SSJoin/PPJoin) was built and
      measured WORSE on this stress (61s at 8x: with quadratic output,
      per-candidate array verification dominates and the extra shuffles
      — df join, per-doc prefix sort, candidate dedup, two array joins —
      bloat the base); count-based intersection over salted postings is
      the better exact shape when duplication, not candidate excess, is
      the bottleneck.
    * neither: the raw exact form, size-guarded (same posture as the
      all-pairs guard in dedup_embedding_cosine_exact): a df-count
      aggregate estimates Σ df(s)² and refuses above ``max_join_rows``
      instead of launching a runaway skewed shuffle. The guard is
      DEFERRED (scalar subquery + assert_true, see util.execution_guard):
      plan construction launches no Spark job; at execution the estimate
      stage runs first and a violation fails every map task on its first
      row, before the join shuffle materializes. Pass
      ``max_join_rows=None`` to run unguarded (ground-truth/debug use)."""
    if df_cap is not None and hot_cap is not None:
        raise ValueError("df_cap and hot_cap are mutually exclusive postures")
    if metric not in ("jaccard", "containment"):
        # a typo'd metric would otherwise silently compute Jaccard under
        # the wrong column name with the wrong threshold applied
        raise ValueError(f"unknown metric {metric!r}: use 'jaccard' or 'containment'")
    sh = with_shingles(df, id_col, text_col, n)
    # Measured NOT worth checkpointing (unlike minhash's shingle frame):
    # materializing the exploded postings costs more than recomputing the
    # codegen explode per consumer (+0.4-0.5 s at sf0.1 when tried).
    #
    # Postings carry the 60-bit md5int fold of the shingle, not the
    # string (the minhash bucket-key trick applied to the postings
    # join): every downstream stage — the Σdf²
    # estimate, the df_cap/hot_cap directories, and above all the
    # self-join exchange — shuffles and probes an 8-byte long instead of
    # a ~20-char string. Result-identical by the established
    # collision-parity argument: the DuckDB oracles hash with the SAME
    # shared md5int fragment, so even a (2^-60) collision merges the same
    # shingle pair in both engines; tests/test_plan_quality.py's
    # oracle-identity pin re-proves the hashed postings form against the
    # retired all-pairs STRING form on sf0.001.
    inv = sh.select(
        F.col(id_col), F.size("sh").alias("sz"), F.explode("sh").alias("__s")
    ).select(F.col(id_col), "sz", md5int(F.col("__s")).alias("shingle"))
    if df_cap is None and hot_cap is None and max_join_rows is not None:
        # Join-size estimate, exact by construction: the postings self-join
        # on `shingle` produces exactly Σ df(s)² rows. One count-aggregate
        # pass over (shingle) — linear scan, map-side partials — versus a
        # join whose output this bounds; at 100 TB this is the difference
        # between refusing in seconds and a multi-hour runaway shuffle.
        est = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.sum(F.col("df") * F.col("df")).alias("sq"))
            .scalar()
        )
        inv = execution_guard(
            inv,
            F.coalesce(est, F.lit(0)) <= F.lit(max_join_rows),
            F.format_string(
                "ngram_jaccard_pairs: estimated postings join size %s rows"
                f" exceeds max_join_rows={max_join_rows} (Σdf² is quadratic in"
                " duplication). Pass hot_cap (e.g. hot_cap=64) for the salted"
                " exact variant, df_cap for the capped near-linear variant,"
                " or raise/disable max_join_rows.",
                est,
            ),
        )
    if df_cap is not None:
        keep = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= df_cap)
            .select("shingle")
        )
        inv = inv.join(keep, on="shingle")
    if hot_cap is not None:
        # Hot-shingle directory: (shingle, n_salt) for df > hot_cap only.
        # No broadcast hint — the hot set scales with corpus duplication
        # (bounded by total_postings/hot_cap); AQE broadcasts it when small.
        hot = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > hot_cap)
            .select(
                "shingle",
                F.ceil(F.col("__df") / F.lit(hot_cap)).cast("int").alias("__s"),
            )
        )
        tagged = inv.join(hot, on="shingle", how="left")
        cold = tagged.filter(F.col("__s").isNull())
        hotp = tagged.filter(F.col("__s").isNotNull())
        contrib_cold = (
            cold.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle")
            .join(
                cold.select(
                    F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle"
                ),
                on="shingle",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sz_a", "sz_b")
        )
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
        salt_range = F.explode(F.sequence(F.lit(0), F.col("__s") - 1))
        a_h = hotp.select(
            F.col(id_col).alias("id_a"),
            F.col("sz").alias("sz_a"),
            "shingle",
            bucket.alias("__i"),
            salt_range.alias("__j"),
        )
        b_h = hotp.select(
            F.col(id_col).alias("id_b"),
            F.col("sz").alias("sz_b"),
            "shingle",
            salt_range.alias("__i"),
            bucket.alias("__j"),
        )
        contrib_hot = (
            a_h.join(b_h, on=["shingle", "__i", "__j"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sz_a", "sz_b")
        )
        contrib = contrib_cold.unionByName(contrib_hot)
    else:
        a = inv.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle")
        b = inv.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle")
        contrib = (
            a.join(b, on="shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sz_a", "sz_b")
        )
    inter = contrib.groupBy("id_a", "id_b", "sz_a", "sz_b").agg(
        F.count(F.lit(1)).alias("inter")
    )
    if metric == "containment":
        # asymmetric overlap normalized by the SMALLER shingle set:
        # |A∩B| / min(|A|,|B|) — 1.0 when one doc's shingles are a subset
        # of the other's, the doc-inside-doc / contamination measure that
        # Jaccard dilutes (a paragraph quoted inside a long page scores
        # near 0 Jaccard but 1.0 containment). One IEEE divide, portable.
        score = F.col("inter").cast("double") / F.least(F.col("sz_a"), F.col("sz_b"))
    else:
        score = F.col("inter").cast("double") / (
            F.col("sz_a") + F.col("sz_b") - F.col("inter")
        )
    return (
        inter.select("id_a", "id_b", score.alias(metric))
        .filter(F.col(metric) >= threshold)
    )


# Σdf² above which the postings self-join gets the salted two-phase layout
# instead of the direct join. Below it, one reducer comfortably absorbs the
# worst hot shingle and salting would only add a df-count pass + an extra
# union branch; above it, a single hot key serializes a reducer (the 8x
# duplication probe measured 19x wall growth on the direct form vs 11x
# salted). The constant is a per-reducer work bound, so it does NOT scale
# with corpus size — the same threshold is right at sf0.01 and at 100 TB.
JACCARD_DIRECT_MAX_POSTINGS_SQ = 5_000_000


def choose_jaccard_posture(
    postings_sq: int | None, direct_max: int = JACCARD_DIRECT_MAX_POSTINGS_SQ
) -> str:
    """Pure decision rule for the exact-Jaccard postings strategy
    (SURVEY §7.2's LSH-vs-broadcast chooser generalized to postings):
    ``'direct'`` when the estimated join size Σdf² fits ``direct_max``,
    ``'salted'`` otherwise. Both postures are EXACT — identical results,
    different shuffle layout — so the choice never affects the oracle."""
    if postings_sq is None:  # empty corpus — nothing to join either way
        return "direct"
    return "direct" if postings_sq <= direct_max else "salted"


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    direct_max: int = JACCARD_DIRECT_MAX_POSTINGS_SQ,
    hot_cap: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard with the postings strategy chosen from data:
    measure Σdf² (one count-aggregate over postings — linear, map-side
    partials, the same quantity the deferred guard computes), then run the
    direct join when it is safely small and the salted two-phase join when
    duplication makes the direct form skew-bound. AQE-style eager
    statistics at plan time: the one aggregate job costs seconds and
    decides between an even shuffle and a straggler reducer — at 100 TB
    that is the whole game. Results are posture-independent (both exact),
    so the unqualified oracle is the plain pairwise-Jaccard SQL."""
    sh = with_shingles(df, id_col, text_col, n)
    # df counts over the hashed shingle (same md5int fold as the postings
    # join below): identical counts modulo 60-bit collisions, long keys
    # through the aggregate exchange.
    est = (
        sh.select(F.explode("sh").alias("__s"))
        .select(md5int(F.col("__s")).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * F.col("df")).alias("sq"))
        .collect()[0][0]
    )
    if choose_jaccard_posture(est, direct_max) == "direct":
        # just measured under the bound — skip the deferred re-estimate
        return ngram_jaccard_pairs(
            df, id_col, text_col, n=n, threshold=threshold, max_join_rows=None
        )
    return ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold, hot_cap=hot_cap
    )


def hash_shingles(sh_col) -> Column:
    """Shingle strings → 60-bit md5int longs, element-wise. Hashing is
    deterministic and identical in both engines (DuckDB restates it with
    the shared MD5INT fragment), so every downstream comparison —
    signatures, band buckets, exact set intersections — produces the SAME
    result from the hashed arrays as both engines would from each other's:
    a 60-bit collision merges the same pair of shingles on both sides.
    The payload win is the point: ~8 bytes/shingle instead of a ~20-char
    string, so checkpointing a corpus's shingle sets and intersecting
    candidate pairs touch a quarter of the bytes."""
    return F.transform(sh_col, lambda x: md5int(x))


def minhash_band_buckets(
    sh: DataFrame, id_col: str, k: int = 32, bands: int = 16,
    pre_hashed: bool = False,
) -> DataFrame:
    """(id, band, bucket-hash) rows from a shingle-array frame, fully in
    native expressions — zero Python in the signature path.

    Shape mirrors the DuckDB oracle stage-for-stage: explode shingles →
    portable md5int mod the Mersenne prime → ONE hash-aggregate by id with
    k ``min((2i+1)·h + (17i+3) mod P)`` expressions (map-side partial min,
    so the shuffle carries one k-wide row per id per map partition, not
    postings) → md5int (60-bit long) of the comma-joined decimal
    signature slice per band. Products < 2^37, exact in int64 on both
    engines; ``cast(long as string)`` is plain decimal digits in Spark,
    DuckDB's ``::VARCHAR`` and Python's ``str()`` alike, so band hashes
    stay identical to the oracle's. The bucket key is the 8-byte integer
    fold rather than the 32-char md5 hex string:
    the candidate join shuffles and probes on (int, long) instead of
    (int, string) — same collision classes (both are the md5 prefix), a
    quarter of the key bytes.

    Why expressions, and why THESE expressions: a k=32-unrolled per-row
    ``array_min(transform(...))`` HOF forest costs ~3.3s Catalyst
    analysis + ~4s Janino codegen per embedding query, and an
    Arrow/hashlib pandas UDF is the dedup family's hot spot (a
    per-shingle Python-loop md5).
    The explode+groupBy form has neither problem: k flat arithmetic
    aggregates compile in milliseconds and the md5 runs JVM-side inside
    whole-stage codegen."""
    r = k // bands
    hx = sh.select(F.col(id_col), F.explode("sh").alias("__x")).select(
        F.col(id_col),
        (
            (F.col("__x") if pre_hashed else md5int(F.col("__x")))
            % MERSENNE_P
        ).alias("h"),
    )
    # Expressions rendered as SQL strings: the
    # per-element Column-builder form issued ~300 py4j round-trips per
    # invocation (k min-aggregates x 6 calls + bands x r concat chains);
    # one F.expr per aggregate / per band hash builds the IDENTICAL
    # expression tree with ~50. This helper runs once per dedup query AND
    # once per streaming trigger, so the driver chatter was paid
    # repeatedly.
    sig = hx.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(({2 * i + 1} * h + {17 * i + 3}) % {MERSENNE_P})"
            ).alias(f"m{i}")
            for i in range(k)
        ]
    )
    bh_sql = ", ".join(
        "conv(substring(md5(concat_ws(',', {cols})), 1, 15), 16, 10)".format(
            cols=", ".join(
                f"cast(m{j * r + i} as string)" for i in range(r)
            )
        )
        for j in range(bands)
    )
    return sig.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({bh_sql})").cast("array<long>")).alias(
            "band", "bh"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band buckets → equi-join on
    (band, bucket hash) → exact Jaccard verification ≥ threshold.

    The candidate join shuffles only (band, 60-bit band hash) keys — never
    the shingle arrays — at 100 TB this is the only scalable shape for
    unknown-similarity dedup (no all-pairs stage exists anywhere).

    Working-set discipline: the shingle frame feeds three subtrees
    (signature + both verify sides) and is materialized exactly once, as
    HASHED 60-bit long arrays (:func:`hash_shingles`), not strings. The
    md5 work happens once per (doc, shingle) during the checkpoint job
    (the signature stage needed it anyway), the checkpointed payload
    drops ~4x, the signature explode reduces to a modulo on longs, and
    the exact-verify intersections compare longs instead of strings.
    The DuckDB oracle hashes with the same shared md5int fold, so parity
    is exact even in the (2^-60) collision case — both engines merge the
    same shingles. Measured at sf0.1: 1.6 s, against 2.4 s with string
    shingles.

    The verify join broadcasts the candidate pairs (tiny by LSH
    construction — bands x rows tuned so random collisions vanish) so
    the two verify joins stream the checkpointed shingle frame instead
    of shuffling its arrays twice: at 100 TB the shingle payload is the
    table, the pairs are kilobytes."""
    sh = (
        with_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), hash_shingles(F.col("sh")).alias("sh"))
        .localCheckpoint(eager=True)
    )
    # The bucket frame feeds BOTH sides of the candidate self-join;
    # without this checkpoint the full signature subtree (explode +
    # k-way min aggregate + band hashes) executes twice — DataFrame
    # reuse is lineage, not materialization (visible as two duplicate
    # aggregation subtrees in the plan). (id, band, bh) rows are a
    # fraction of the shingle payload, so the materialization is cheap.
    buckets = minhash_band_buckets(
        sh, id_col, k, bands, pre_hashed=True
    ).localCheckpoint(eager=True)

    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        left.join(right, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        F.broadcast(cand)
        .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return verified.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# SimHash signature width. 60 = the full width of the portable md5int
# primitive (first 15 hex chars of md5 → 60-bit int), so every signature bit
# is oracle-checkable in DuckDB with the same `('0x'||substr(md5(x),1,15))`
# construction. A 16-bit width blocks into ~5-bit
# pigeonhole keys, making ~37% of ALL pairs candidates at 500 docs —
# near-quadratic at 100 TB. 60 bits → 3 blocks of 20-bit keys (d<=2):
# 2^20 key space per block, so block collisions at corpus scale are real
# near-dups plus a vanishing random-collision tail, not a density artifact.
SIMHASH_BITS = 60


def simhash_text_udf(n_bits: int = SIMHASH_BITS):
    """Pandas UDF: text → ``n_bits``-wide SimHash over distinct whitespace
    tokens. Bit j is set iff the sum of (±1 per distinct token, + when token-
    hash bit j is 1) is positive.

    Arrow-batched numpy kernel (same deliberate-UDF rationale as
    minhash_band_hashes_udf): md5 each distinct token once in C (hashlib),
    bit-unpack the 60-bit hashes into a (tokens × n_bits) ±1 matrix, one
    ``sum(axis=0)`` per doc. The previous expression form folded a 16-wide
    ±1 vector per token through interpreted higher-order functions — at 60
    bits that forest costs more than the Arrow round-trip, and it cannot
    vectorize. Tokenization mirrors operators/text.py::tokens (lower, trim,
    split on whitespace runs) so the DuckDB oracle is restating the same
    algorithm."""
    import re as _re

    # re.ASCII is load-bearing: Python's default \s also splits on Unicode
    # whitespace (U+00A0, U+2028, ...) but both the expression-side tokens()
    # (Java regex \s = ASCII) and the DuckDB oracle (RE2 \s) split on ASCII
    # whitespace only — and NBSP is reachable via the HTML extractor
    # (&nbsp; → U+00A0). Empties are dropped below, so no strip() is needed
    # (str.strip() would re-introduce Unicode-whitespace semantics at the
    # string edges).
    ws = _re.compile(r"\s+", _re.ASCII)

    def sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib as _hashlib

        import numpy as _np

        j = _np.arange(n_bits, dtype=_np.int64)
        for s in batches:
            out = []
            for text in s:
                toks = (
                    # portable_lower contract: pre-substitute the two
                    # JVM-vs-simple-casing divergers (see operators/text.py)
                    [t for t in ws.split(
                        text.replace("İ", "i").replace("Σ", "σ").lower()) if t]
                    if isinstance(text, str)
                    else []
                )
                if not toks:
                    out.append(0)
                    continue
                h = _np.array(
                    [
                        int(_hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                        for t in dict.fromkeys(toks)
                    ],
                    dtype=_np.int64,
                )
                pm = _np.where((h[:, None] >> j[None, :]) & 1 == 1, 1, -1)
                bits = pm.sum(axis=0) > 0
                out.append(int((bits.astype(_np.int64) << j).sum()))
            yield pd.Series(out, dtype="int64")

    return F.pandas_udf(sig, T.LongType())


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash per row — narrow map-side projection, no shuffle; empty/null
    text pins to signature 0 on both engines."""
    return ensure_parallelism(df).select(
        F.col(id_col), simhash_text_udf(n_bits)(F.col(text_col)).alias("simhash")
    )


def simhash_blocks(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Split an ``n_bits`` code into ``n_blocks`` contiguous (shift, width)
    blocks, widest first — shared by the Spark plan and the oracle SQL
    generator so both engines block identically."""
    widths = [
        n_bits // n_blocks + (1 if i < n_bits % n_blocks else 0)
        for i in range(n_blocks)
    ]
    shifts = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(shifts, widths))


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 2
) -> DataFrame:
    """SimHash near-dup candidates via the multi-index pigeonhole: the
    60-bit signature splits into ``max_hamming + 1`` blocks, so any pair
    within hamming distance ``max_hamming`` agrees EXACTLY on at least one
    block (d flips can touch at most d of the d+1 blocks) — candidates are
    block+key equi-join matches, then exact hamming verifies via
    bit_count(xor). (Two halves would only guarantee d ≤ 1: a pair with one
    flip in EACH half matches neither half.) With d=2 the block keys are 20
    bits wide — collisions are genuine near-dups plus a ~n²/2²⁰ random
    tail, not the ~37%-of-all-pairs density the old 16-bit/5-bit-key split
    produced (tests/test_plan_quality.py pins the candidate ratio)."""
    sims = simhash_signatures(df, id_col, text_col)
    blocks = sims.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("half"),
                        # shiftright+mask, NOT floor(x / 2^s): the signature
                        # is 60-bit, past double's 2^53 exact-integer range,
                        # so float division would mis-key high blocks.
                        F.shiftright(F.col("simhash"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                        .alias("key"),
                    )
                    for b, (shift, width) in enumerate(
                        simhash_blocks(SIMHASH_BITS, max_hamming + 1)
                    )
                ]
            )
        ).alias("hk"),
    ).select(F.col(id_col), "simhash", F.col("hk.half").alias("half"), F.col("hk.key").alias("key"))
    left = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "half", "key"
    )
    right = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "half", "key"
    )
    cand = (
        left.join(right, on=["half", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# Edge rows per loop-shuffle partition for the "auto" posture: a
# (src, dst) edge is two longs (~16 B + row overhead), so 100k edges/task
# is a few MB — small enough that reducer memory is never the constraint,
# large enough that tiny candidate-pair sets collapse to 1-2 tasks instead
# of paying per-task scheduling on session-conf-many empty partitions.
EDGES_PER_LOOP_PARTITION = 100_000


def _auto_loop_partitions(spark, n_edges: int) -> int:
    """Loop-shuffle reducer count derived from the measured edge count,
    capped by the session conf (the cluster-sized ceiling), instead of a
    literal per-plan count that is right at one scale only: the edge list is
    already eagerly checkpointed when this runs, so the count is a cheap
    scan of materialized blocks, not a recompute."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(session, -(-n_edges // EDGES_PER_LOOP_PARTITION)))


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    shuffle_partitions: int | str | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation. Returns (id, component) where
    ``component`` is the smallest member id — the canonical representative.

    STATUS: parity baseline. New consumers should call
    :func:`resolve_components` (= the O(log n) star contraction, measured
    2x faster even on shallow sf0.1 clusters); this O(diameter) form is
    kept registered and cross-checked against it so the two independent
    implementations keep witnessing each other's fixpoint.

    Labels only ever decrease and are bounded below, so the label-sum is a
    monotone convergence witness: the loop moves one aggregated scalar per
    iteration to the driver, never rows. Iterations = cluster diameter —
    near-dup clusters are tight (pairs/stars), so 2-4 rounds in practice;
    each round is one shuffle join + min-agg, persisted so lineage stays
    flat. At petabyte scale swap the loop body for the alternating
    small-star/large-star contraction (same fixpoint, O(log n) rounds)."""
    import contextlib

    from petfinder_database_distributor_spark.streaming.incremental import (
        scoped_conf,
    )

    spark = pairs.sparkSession
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    # ``shuffle_partitions``: the per-round joins shuffle the edge list, so
    # the right count scales with the input — None leaves the session conf
    # in charge; ``"auto"`` derives it from the materialized edge count
    # (the posture every registered plan uses); an int pins it explicitly.
    # localCheckpoint (not persist) per round: persist caches EXECUTION but
    # Catalyst still re-analyzes the whole nested lineage every round —
    # checkpointing truncates the logical plan so round N's analysis cost
    # doesn't grow with N. Edges checkpoint once up front for the same
    # reason (every round re-references them). The checkpoint runs OUTSIDE
    # the conf scope (edge construction is a narrow union — no shuffle), so
    # "auto" can count the materialized blocks before the scope opens.
    edges = edges.localCheckpoint(eager=True)
    if shuffle_partitions == "auto":
        shuffle_partitions = _auto_loop_partitions(spark, edges.count())
    conf_scope = (
        scoped_conf(spark, spark__sql__shuffle__partitions=shuffle_partitions)
        if shuffle_partitions is not None
        else contextlib.nullcontext()
    )
    with conf_scope:
        labels = labels.localCheckpoint(eager=True)
        # DECIMAL(38,0) accumulator, same reason as the star witness:
        # summing 60-bit md5int labels overflows int64 within ~9 rows —
        # ANSI mode raises, and a wrapped sum would break the monotone-
        # witness argument the convergence check rests on.
        label_sum = F.sum(F.col("component").cast("decimal(38,0)"))
        prev_sum = labels.agg(label_sum).collect()[0][0]
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.src == labels.id)
                .groupBy(F.col("dst").alias("id2"))
                .agg(F.min("component").alias("nbr"))
            )
            new_labels = (
                labels.join(nbr_min, labels.id == F.col("id2"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr"), F.col("component"))
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            new_sum = new_labels.agg(label_sum).collect()[0][0]
            # No explicit unpersist: localCheckpoint blocks are not tracked
            # by the DataFrame cache manager (an unpersist() here would be a
            # no-op). Dropping the Python reference releases the JVM-side
            # plan, and the ContextCleaner reclaims the superseded round's
            # checkpoint blocks on GC — retention is bounded by one round's
            # label table (id, component — scalars), not session lifetime.
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return labels


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 30,
    shuffle_partitions: int | str | None = None,
) -> DataFrame:
    """Connected components by ALTERNATING SMALL-STAR / LARGE-STAR edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC 2014): the O(log n)-round path that
    :func:`connected_components`'s docstring promises for petabyte scale.
    Same output contract: (id, component = smallest member id) for every
    node appearing in a pair.

    Per round (all bulk DataFrame ops — two agg+join passes on the edge
    list, never a collect of neighbors):
    - large-star: every node u links each strictly-larger neighbor to
      m(u) = min(N(u) ∪ {u}) — long chains fold toward small ids from
      every direction at once;
    - small-star: with edges oriented large→small, every node links its
      smaller neighbors (and itself) to its minimum neighbor.
    Both steps preserve connectivity; the fixpoint is a star per component
    centered on the component minimum (the canonical representative).
    Convergence is witnessed by an (edge-count, Σu, Σv) scalar triple —
    one driver-side row per round, monotone under contraction — and a
    non-converged ``max_iter`` exit raises loudly rather than returning a
    partial clustering.

    Versus the label-propagation loop: rounds drop from O(component
    diameter) to O(log n) — a 10M-node chain needs ~24 star rounds, not
    10M — at the cost of ~2× the shuffles per round. Crossover favors this
    form whenever clusters can be deep (transitive near-dup chains at
    corpus scale). Parity vs the fixpoint implementation is pinned in
    tests/test_components_star.py (sf0.01 MinHash pairs + adversarial
    long-chain/binary-tree fixtures).

    ``shuffle_partitions``: every round here shuffles the (contracting)
    corpus-sized edge list, so unlike the label-prop loop there is no
    one-size partition count — None (default) leaves the session's
    ``spark.sql.shuffle.partitions`` in charge (size it for the edge list,
    as any corpus-scale job does); ``"auto"`` derives the loop reducer
    count from the materialized edge count (registered-plan posture); an
    int pins it. The initial orientation ``distinct`` — the one scan-scale
    shuffle — always runs under the session conf; only the loop rounds get
    the derived count."""
    import contextlib

    from petfinder_database_distributor_spark.streaming.incremental import (
        scoped_conf,
    )

    spark = pairs.sparkSession
    u, v = F.col("u"), F.col("v")
    # Canonical large→small orientation; self-loops dropped.
    edges = (
        pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest(F.col("x"), F.col("y")).alias("u"),
            F.least(F.col("x"), F.col("y")).alias("v"),
        )
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    if shuffle_partitions == "auto":
        shuffle_partitions = _auto_loop_partitions(spark, edges.count())
    conf_scope = (
        scoped_conf(spark, spark__sql__shuffle__partitions=shuffle_partitions)
        if shuffle_partitions is not None
        else contextlib.nullcontext()
    )
    with conf_scope:
        prev_witness = None
        for _ in range(max_iter):
            # --- large-star: over BOTH orientations, m = min(N(u) ∪ {u});
            # emit (larger-neighbor → m).
            both = edges.union(edges.select(v.alias("u"), u.alias("v")))
            mins = (
                both.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m"))
            )
            large = (
                both.join(mins, "u")
                .filter(v > u)  # strictly-larger neighbors only
                .select(v.alias("u"), F.col("m").alias("v"))  # m <= u < neighbor
                .filter(u != v)
                .distinct()
            )
            # --- small-star: edges already oriented large→small; every
            # node links its smaller neighbors AND itself to min(N(u)).
            mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                large.join(mins2, "u")
                .select(
                    F.explode(
                        F.array(
                            F.struct(u.alias("su"), F.col("m").alias("sv")),
                            F.struct(v.alias("su"), F.col("m").alias("sv")),
                        )
                    ).alias("e")
                )
                .select(F.col("e.su").alias("u"), F.col("e.sv").alias("v"))
                .filter(u != v)
                .distinct()
                .localCheckpoint(eager=True)  # truncate lineage per round
            )
            # Exact-integer witness: count + both id sums + an order-free
            # per-edge mixing term. Reduce mod p BEFORE the multiply:
            # 31 * (2^60-range id) overflows int64 (overflow starts ~2^58),
            # which under ANSI mode (pyspark 4 default) raises
            # ARITHMETIC_OVERFLOW for md5int-style ids — (u%p)*31 + v%p
            # stays < 2^36, exact. The sums accumulate in DECIMAL(38,0) so
            # corpus-scale edge counts of 60-bit ids cannot overflow the
            # accumulator either. Two different edge sets colliding in
            # consecutive rounds would need four simultaneous coincidences.
            p = F.lit(2147483647)
            dec = "decimal(38,0)"
            witness = small.agg(
                F.count(F.lit(1)),
                F.sum(u.cast(dec)),
                F.sum(v.cast(dec)),
                F.sum((((u % p) * 31 + (v % p)) % p).cast(dec)),
            ).collect()[0]
            edges = small
            if tuple(witness) == prev_witness:
                break
            prev_witness = tuple(witness)
        else:
            raise RuntimeError(
                f"connected_components_star: no fixpoint after {max_iter}"
                " star rounds — raise max_iter (components converge in"
                " O(log n) rounds; 30 covers ~10^9-node diameters)"
            )
    roots = edges.select(v.alias("id")).distinct()
    return edges.select(u.alias("id"), v.alias("component")).unionByName(
        roots.select("id", F.col("id").alias("component"))
    )


# The DEFAULT clustering entry point for pipeline consumers: star
# contraction — O(log n) rounds of bulk equi-joins — is the petabyte
# shape, so composition sites (dedup_apply_corpus and anything new) bind
# to this name; the label-propagation form above stays as the
# independently-implemented parity baseline both queries and tests
# cross-check against.
resolve_components = connected_components_star


def levenshtein_neardup_counts(
    df: DataFrame, id_col: str, name_col: str, max_len: int = 256
) -> DataFrame:
    """Edit-distance near-dup pairs (d <= 1) via SymSpell-style deletion-
    neighborhood blocking, aggregated to (distance, n_pairs).

    Blocking with FULL recall: every string emits itself plus each
    single-deletion variant; two strings within edit distance 1 always
    share a variant (equal strings share all; a 1-substitution pair shares
    the variant deleting the differing position; insert/delete pairs share
    the shorter string itself). Candidates are a variant equi-join — never
    all-pairs, unlike the naive length-band x first-char blocking, which
    silently misses pairs editing position 0. Spark's three-argument
    ``levenshtein(l, r, threshold)`` early-exits the verify.

    LENGTH GUARD: each string emits len+1 variant postings, each ~len
    chars, so postings volume grows as Σ len² — pointed at an
    ``about_me``/document-class text column this silently becomes a
    byte-quadratic shuffle. A DEFERRED guard (scalar subquery +
    assert_true, util.execution_guard — no Spark job at plan-build)
    probes ``max(length)`` at execution and fails fast when it exceeds
    ``max_len``: SymSpell is a short-string (name/key/title) algorithm —
    route long text to MinHash-LSH / n-gram Jaccard instead.
    ``max_len=None`` disables.

    Output is aggregated because realistic catalogs are duplicate-heavy
    (the sf0.1 part names yield 3.1M d<=1 pairs) — the pair list itself
    is an intermediate, not a result a user would collect."""
    guarded = ensure_parallelism(df)
    if max_len is not None:
        longest = df.agg(F.max(F.length(F.col(name_col)))).scalar()
        guarded = execution_guard(
            guarded,
            F.coalesce(longest, F.lit(0)) <= F.lit(max_len),
            F.format_string(
                f"levenshtein_neardup_counts: max length of '{name_col}' is"
                f" %s > max_len={max_len}; deletion-variant postings scale"
                " with Σ len² — use MinHash-LSH or n-gram Jaccard for long"
                " text, or raise max_len explicitly.",
                longest,
            ),
        )
    variants = F.array_distinct(
        F.concat(
            F.array(F.col(name_col)),
            F.expr(
                f"transform(sequence(1, length({name_col})), i ->"
                f" concat(substring({name_col}, 1, i - 1),"
                f" substring({name_col}, i + 1, 2147483647)))"
            ),
        )
    )
    inv = guarded.select(
        F.col(id_col), F.col(name_col), F.explode(variants).alias("variant")
    )
    a = inv.select(
        F.col(id_col).alias("id_a"), F.col(name_col).alias("na"), "variant"
    )
    b = inv.select(
        F.col(id_col).alias("id_b"), F.col(name_col).alias("nb"), "variant"
    )
    # shuffle fewer bytes: verify BEFORE
    # the pair-dedup. The old order shuffled every duplicated candidate
    # row (a d<=1 pair shares MANY deletion variants) carrying BOTH name
    # strings through the distinct; running the threshold-early-exit
    # levenshtein map-side first lets the distinct shuffle only the
    # qualifying (id_a, id_b, distance) triples — distance is a function
    # of the pair, so distinct over the triple is exactly distinct over
    # the pair, and the re-evaluations on duplicated candidates are cheap
    # (threshold-1 early exit). Result-identical by construction.
    dist = F.levenshtein(F.col("na"), F.col("nb"), 1)
    return (
        a.join(b, on="variant")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
        .distinct()
        .groupBy("distance")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
