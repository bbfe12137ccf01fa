"""The integer-product overflow audit.

Spark 4.x runs ANSI mode by default, so a BIGINT product that exceeds
2^63 HARD-FAILS the whole query with ARITHMETIC_OVERFLOW (legacy
non-ANSI silently wraps); DuckDB raises unless widened to HUGEINT.
Either behavior is wrong at 100 TB, and it bites exactly where no
cross-engine oracle ever runs — the sf0.01/sf0.1 gates can stay green
forever over an expression that cannot execute at deployment scale.

Audit sweep: of the engine's integer
arithmetic, 101 sites already ran exact decimal(38,0)/HUGEINT products
(the perplexity family, KN, PMI, JSD, Neyman, ...); the log2 kernel is
safe by construction (mantissa < 2^31 so each square < 2^62, documented
at mining._log2fp_sql_ctes); PageRank's 10^12 fixed-point mass keeps
every product under ~1e14; per-doc nll sums bound at doc_len * 3.25e7
(a >2.8e8-token single document would be required to overflow — upstream
length rules drop such documents). The ONE genuine outlier was the BM25
rational form: (2n-2df+1)*22*tf*tt crosses 2^63 near 3e7 docs x 2e9
tokens — a mid-sized web corpus. Fixed by widening both engines to
exact decimal(38,0)/HUGEINT with ONE correctly-rounded cast-to-double
each for numerator and denominator (bit-identical at driver scales
where every product is < 2^53 — hash-verified before landing).
"""

import pytest
from pyspark.sql import functions as F

# a corpus-stats row at 1e8 docs x 2e11 total tokens — modest web scale,
# an order past the BIGINT wall for the old form
_WEB_SCALE_ROW = [(1, 200, 5, 3, 0, 10**8, 2 * 10**11, 10**6, 1, 1)]
_WEB_SCALE_SCHEMA = (
    "doc_id int, dl long, tf1 long, tf2 long, tf3 long, "
    "n long, tt long, df1 long, df2 long, df3 long"
)


def test_bm25_widened_form_survives_web_scale_stats(spark):
    """The widened score must stay finite-positive on a stats row where
    the retired BIGINT form overflows. If anyone reverts the widening,
    this fails either way: ANSI raises, non-ANSI wraps negative."""
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _bm25_term_score,
    )

    demo = spark.createDataFrame(_WEB_SCALE_ROW, _WEB_SCALE_SCHEMA)
    r = demo.select(_bm25_term_score(1).alias("s")).collect()[0]
    # rational IDF ~(n/df)=100 times tf-saturation <2.2 — ~220, finite
    assert r["s"] is not None and 0 < r["s"] < 1000


def test_bm25_bigint_form_is_actually_past_the_wall(spark):
    """Executable witness that the audit found a REAL wall, not a
    hypothetical: the retired raw-BIGINT product on the same stats row
    must either raise (ANSI, the 4.x default) or wrap negative
    (legacy). If this ever starts succeeding with a positive value,
    the envelope math above is stale — re-audit."""
    demo = spark.createDataFrame(_WEB_SCALE_ROW, _WEB_SCALE_SCHEMA)
    tf, df = F.col("tf1"), F.col("df1")
    n, tt = F.col("n"), F.col("tt")
    old_num = (2 * n - 2 * df + 1) * 22 * tf * tt
    try:
        val = demo.select(old_num.cast("double").alias("x")).collect()[0]["x"]
    except Exception:
        return  # ANSI raise — the wall, witnessed
    assert val < 0, "raw BIGINT product neither raised nor wrapped?"


def test_bm25_oracle_carries_the_hugeint_widening():
    """Anti-drift pin for the DuckDB side: the registered oracle must
    keep its HUGEINT casts (DuckDB raises Out of Range on BIGINT
    overflow — same wall, same fix)."""
    from petfinder_database_distributor_spark.plans.llm_pipeline import _BM25_SQL

    assert _BM25_SQL.count("::HUGEINT") >= 12
