"""SURVEY.md §2 operator inventory, demonstrated on the driver tables.

The reference's domain table (pets) does not exist in the driver testdata, so
each operator runs over the driver tables with deterministic derived columns
(``nullif``/``case`` expressions reproduce the null/blank/tri-state mixes the
reference deals with). Spark side and DuckDB oracle derive the same columns,
so the value-hash comparison checks the operator's exact semantics.

Reference citations are on the underlying operators/functions modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import (
    bool_to_string,
    clean_text,
    escape_newlines,
    extract_name_from_about,
    normalize_url,
    parse_boolean,
    search_url,
)
from petfinder_database_distributor_spark.operators.dedup import (
    anti_join_new_keys,
    compaction_delete,
    key_dedup,
    upsert_merge,
)
from petfinder_database_distributor_spark.operators.filters import (
    failed_fields_col,
    liveness_filter,
    nonblank_key_filter,
    null_ratio_filter,
    placeholder_name_filter,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import load_table


# ---------------------------------------------------------------------------
# Shared derived-column helpers (must match the SQL fragments used in oracles)
# ---------------------------------------------------------------------------

def _events_with_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + deterministic nullable fields reproducing the reference's
    missing-data mixes: f_name/f_loc/f_color strings (null, blank, present)
    and f_flag tri-state boolean (null/False/True)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("event_type")).alias("f_name"),
        F.when(F.col("value") < 0.2, F.lit("")).otherwise(F.col("props")).alias("f_loc"),
        F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(F.col("event_type")).alias("f_color"),
        F.when(F.col("value") < 0.1, F.lit(None).cast("boolean"))
        .when(F.col("value") < 0.5, F.lit(False))
        .otherwise(F.lit(True))
        .alias("f_flag"),
    )


_EVENTS_FIELDS_SQL = """
    SELECT event_id, user_id, event_type, value,
           CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS f_name,
           CASE WHEN value < 0.2 THEN '' ELSE props END AS f_loc,
           CASE WHEN user_id % 7 = 0 THEN NULL ELSE event_type END AS f_color,
           CASE WHEN value < 0.1 THEN NULL
                WHEN value < 0.5 THEN FALSE ELSE TRUE END AS f_flag
    FROM events
"""

# DuckDB fragment for the horizontal missing-field counter over the derived
# fields (string: null or blank counts; boolean: only null counts).
_FAILED_SQL = (
    "(CASE WHEN f_name IS NULL OR trim(f_name) = '' THEN 1 ELSE 0 END"
    " + CASE WHEN f_loc IS NULL OR trim(f_loc) = '' THEN 1 ELSE 0 END"
    " + CASE WHEN f_color IS NULL OR trim(f_color) = '' THEN 1 ELSE 0 END"
    " + CASE WHEN f_flag IS NULL THEN 1 ELSE 0 END)"
)

_STRING_FIELDS = ["f_name", "f_loc", "f_color"]
_BOOL_FIELDS = ["f_flag"]


# ---------------------------------------------------------------------------
# X1–X7 scalar functions
# ---------------------------------------------------------------------------

# X1 clean_text: trim + strip trailing footnote asterisks
# (pet_scraper.py:125-132). Folded into ref_scalar_suite — the function and
# oracle fragment stay as the composite's X1 family.
_X1_ORACLE = """
    SELECT doc_id,
           coalesce(trim(regexp_replace(trim(text || ' *** '), '\\*+$', '')), '') AS cleaned
    FROM documents
"""


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(" *** "))
    return docs.select("doc_id", clean_text(dirty).alias("cleaned"))


_PB_SQL = """
    CASE WHEN {c} IS NULL OR trim(lower({c})) = '' THEN NULL
         WHEN contains(lower(trim({c})), 'no') OR contains(lower(trim({c})), 'false')
              OR contains(lower(trim({c})), '✗') OR contains(lower(trim({c})), 'unchecked')
              OR contains(lower(trim({c})), 'n') THEN FALSE
         WHEN contains(lower(trim({c})), 'yes') OR contains(lower(trim({c})), 'true')
              OR contains(lower(trim({c})), '✓') OR contains(lower(trim({c})), 'check')
              OR contains(lower(trim({c})), 'checked') OR contains(lower(trim({c})), 'y')
              THEN TRUE
         ELSE TRUE END
"""


# X2 parse_boolean: negatives-first substring parse, empty→NULL
# (pet_scraper.py:221-238, :305-322). Folded into ref_scalar_suite.
_X2_ORACLE = f"""
    SELECT doc_id,
           {_PB_SQL.format(c="lang")} AS lang_bool,
           {_PB_SQL.format(c="source")} AS source_bool,
           {_PB_SQL.format(c="nullif(lang, 'en')")} AS tri_state
    FROM documents
"""


def q_parse_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        parse_boolean(F.col("lang")).alias("lang_bool"),
        parse_boolean(F.col("source")).alias("source_bool"),
        parse_boolean(F.nullif(F.col("lang"), F.lit("en"))).alias("tri_state"),
    )


# X3 extract_name_from_about: strip 'About' prefix (pet_scraper.py:241-249).
# Folded into ref_scalar_suite.
_X3_ORACLE = """
    WITH t AS (
      SELECT c_custkey, trim(coalesce('About ' || c_name, '')) AS a,
             trim(coalesce(c_mktsegment, '')) AS b
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN lower(a) LIKE 'about%' THEN trim(substring(a, 6)) ELSE a END AS extracted,
           CASE WHEN lower(b) LIKE 'about%' THEN trim(substring(b, 6)) ELSE b END AS passthrough
    FROM t
"""


def q_extract_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        extract_name_from_about(F.concat(F.lit("About "), F.col("c_name"))).alias("extracted"),
        extract_name_from_about(F.col("c_mktsegment")).alias("passthrough"),
    )


# X4+X5 export encoding: newline escaping + tri-state bool→string
# (pet_scraper.py:416-417, :440-443). Folded into ref_scalar_suite.
_X45_ORACLE = f"""
    SELECT doc_id,
           replace(replace(lang || chr(10) || source || chr(13) || 'end', chr(10), '\\n'),
                   chr(13), '\\n') AS about_me_encoded,
           CASE WHEN ({_PB_SQL.format(c="nullif(lang, 'en')")}) IS NULL THEN ''
                WHEN ({_PB_SQL.format(c="nullif(lang, 'en')")}) THEN 'True'
                ELSE 'False' END AS flag_encoded
    FROM documents
"""


def q_export_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    multiline = F.concat(F.col("lang"), F.lit("\n"), F.col("source"), F.lit("\r"), F.lit("end"))
    flag = parse_boolean(F.nullif(F.col("lang"), F.lit("en")))
    return docs.select(
        "doc_id",
        escape_newlines(multiline).alias("about_me_encoded"),
        bool_to_string(flag).alias("flag_encoded"),
    )


# X6 URL normalization: relative href → absolute (link_scraper.py:136-138).
# Folded into ref_scalar_suite.
_X6_ORACLE = """
    SELECT doc_id,
           CASE WHEN rel LIKE '/%' THEN 'https://www.petfinder.com' || rel ELSE rel END AS abs_url
    FROM (SELECT doc_id, '/' || source || '/details/' AS rel FROM documents)
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rel = F.concat(F.lit("/"), F.col("source"), F.lit("/details/"))
    return docs.select("doc_id", normalize_url(rel).alias("abs_url"))


@register(
    "ref_worklist_urls",
    oracle="""
    SELECT g.page AS page, t.pet_type AS pet_type,
           printf('https://www.petfinder.com/search/%ss-for-adoption/us/?page=%d',
                  t.pet_type, g.page) AS url
    FROM generate_series(1, 100) g(page), (VALUES ('dog'), ('cat')) t(pet_type)
    """,
    doc="G1+X7 work-list enumeration: page range × pet-type cross product → URL template (server.py:350-375, :185)",
)
def q_worklist_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.range(1, 101).select(F.col("id").cast("long").alias("page"))
    # Literal dim built JVM-side (explode of an array literal): a
    # createDataFrame from local rows would route through the Python-RDD
    # path and pay a Python worker spin-up just to emit two rows.
    types = spark.range(1).select(
        F.explode(F.array(F.lit("dog"), F.lit("cat"))).alias("pet_type")
    )
    return pages.crossJoin(types).select(
        "page", "pet_type", search_url(F.col("pet_type"), F.col("page")).alias("url")
    )


# ---------------------------------------------------------------------------
# F1–F5 filters, A3 counter
# ---------------------------------------------------------------------------

@register(
    "ref_placeholder_filter",
    oracle="""
    SELECT c_custkey, nm AS name
    FROM (SELECT c_custkey,
                 CASE WHEN c_custkey % 11 = 0 THEN ' Dog '
                      WHEN c_custkey % 13 = 0 THEN 'CAT' ELSE c_name END AS nm
          FROM customer)
    WHERE lower(trim(nm)) NOT IN ('dog', 'cat')
    """,
    doc="F1 placeholder-name filter: exact-match drop of 'dog'/'cat' names (pet_scraper.py:375-377)",
)
def q_placeholder_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nm = (
        F.when(F.col("c_custkey") % 11 == 0, F.lit(" Dog "))
        .when(F.col("c_custkey") % 13 == 0, F.lit("CAT"))
        .otherwise(F.col("c_name"))
    )
    named = cust.select("c_custkey", nm.alias("name"))
    return placeholder_name_filter(named, "name")


@register(
    "ref_null_ratio_filter",
    oracle=f"""
    WITH t AS ({_EVENTS_FIELDS_SQL})
    SELECT event_id, f_name, f_loc, f_color, f_flag, {_FAILED_SQL} AS null_ct
    FROM t WHERE {_FAILED_SQL} < 0.5 * 4
    """,
    doc="F2+A3 null-ratio validity filter: drop when ≥50% of checked fields missing; bool False is present (pet_scraper.py:364-407)",
)
def q_null_ratio_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _events_with_fields(spark, sf_dir)
    t = t.withColumn("null_ct", failed_fields_col(_STRING_FIELDS, _BOOL_FIELDS))
    out = null_ratio_filter(t, _STRING_FIELDS, _BOOL_FIELDS, drop_ratio=0.5)
    return out.select("event_id", "f_name", "f_loc", "f_color", "f_flag", "null_ct")


@register(
    "ref_liveness_filter",
    oracle=f"""
    WITH t AS ({_EVENTS_FIELDS_SQL})
    SELECT event_id, {_FAILED_SQL} AS failed_ct
    FROM t WHERE {_FAILED_SQL} < 3
    """,
    doc="F3+X9 liveness predicate: keep iff <3 checked fields failed (verify.py:25-31)",
)
def q_liveness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _events_with_fields(spark, sf_dir)
    out = liveness_filter(t, _STRING_FIELDS, _BOOL_FIELDS, max_failed=3)
    return out.select(
        "event_id", failed_fields_col(_STRING_FIELDS, _BOOL_FIELDS).alias("failed_ct")
    )


@register(
    "ref_nonblank_key",
    oracle="""
    SELECT event_id, k AS key
    FROM (SELECT event_id,
                 CASE WHEN event_id % 10 = 0 THEN '' WHEN event_id % 10 = 1 THEN NULL
                      ELSE 'k' || event_id END AS k
          FROM events)
    WHERE k IS NOT NULL AND trim(k) <> ''
    """,
    doc="F5 blank-key row skip (server.py:265-267)",
)
def q_nonblank_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = (
        F.when(F.col("event_id") % 10 == 0, F.lit(""))
        .when(F.col("event_id") % 10 == 1, F.lit(None))
        .otherwise(F.concat(F.lit("k"), F.col("event_id")))
    )
    keyed = ev.select("event_id", k.alias("key"))
    return nonblank_key_filter(keyed, "key")


# ---------------------------------------------------------------------------
# D1–D3 dedup / upsert / compaction, F4 anti-join
# ---------------------------------------------------------------------------

@register(
    "ref_key_dedup",
    oracle="""
    SELECT user_id, event_id, event_type, ts
    FROM events WHERE ts IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
    doc="D1 key-dedup: first-writer-wins one row per key (server.py:194-207)",
)
def q_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-writer-wins needs an order key: NULL-ts rows are excluded
    # (NULLS FIRST/LAST divergence would pick different representatives)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    out = key_dedup(ev, ["user_id"], [F.col("ts"), F.col("event_id")])
    return out.select("user_id", "event_id", "event_type", "ts")


@register(
    "ref_anti_join",
    oracle="""
    SELECT e.event_id, e.user_id
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_custkey % 4 <> 0)
    """,
    doc="F4 duplicate-skip anti-join: new keys not already in the table, placed BEFORE expensive ops (server.py:200-203, O1)",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The already-ingested key set is a strict SUBSET of customers (keys with
    # c_custkey % 4 == 0 have not been seen yet), so the frontier batch
    # contains genuinely-new links and the anti-join keeps real rows — a
    # fixture that covers every key makes the parity check a vacuous
    # 0 == 0.
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 != 0)
        .withColumnRenamed("c_custkey", "user_id")
    )
    out = anti_join_new_keys(ev, cust, ["user_id"], broadcast_existing=True)
    return out.select("event_id", "user_id")


_UPSERT_BASE_SQL = """
    SELECT event_id, event_type, value, props FROM events WHERE event_id % 3 <> 0
"""
_UPSERT_NEW_SQL = """
    SELECT event_id,
           upper(event_type) AS event_type,
           value + 1000 AS value,
           CASE WHEN user_id % 5 = 0 THEN NULL ELSE props END AS props
    FROM events WHERE event_id % 2 = 0
"""


@register(
    "ref_upsert_merge",
    oracle=f"""
    WITH old AS ({_UPSERT_BASE_SQL}), new AS ({_UPSERT_NEW_SQL})
    SELECT coalesce(o.event_id, n.event_id) AS event_id,
           coalesce(n.event_type, o.event_type) AS event_type,
           coalesce(n.value, o.value) AS value,
           coalesce(n.props, o.props) AS props
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    """,
    doc="D2 column-preserving upsert MERGE by key: new non-null columns overwrite, absent preserve, unmatched append (pet_scraper.py:421-466)",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 3 != 0).select("event_id", "event_type", "value", "props")
    new = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.upper(F.col("event_type")).alias("event_type"),
        (F.col("value") + 1000).alias("value"),
        F.when(F.col("user_id") % 5 == 0, F.lit(None)).otherwise(F.col("props")).alias("props"),
    )
    return upsert_merge(old, new, ["event_id"], ["event_type", "value", "props"])


@register(
    "ref_compaction",
    oracle=f"""
    WITH t AS ({_EVENTS_FIELDS_SQL}),
    invalid AS (SELECT event_id FROM t WHERE {_FAILED_SQL} >= 3)
    SELECT e.event_id, e.event_type, e.value
    FROM events e WHERE NOT EXISTS (SELECT 1 FROM invalid i WHERE i.event_id = e.event_id)
    """,
    doc="D3 anti-delete compaction: verification epoch removes rows failing liveness (server.py:226-315)",
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = _events_with_fields(spark, sf_dir)
    invalid = t.filter(failed_fields_col(_STRING_FIELDS, _BOOL_FIELDS) >= 3).select("event_id")
    out = compaction_delete(ev, invalid, ["event_id"])
    return out.select("event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# A1/A2 aggregation surface (counts)
# ---------------------------------------------------------------------------

# A1/A2 count aggregations — the reference's entire aggregation surface
# (server.py:484-486, :42-49). Folded into ref_scalar_suite.
_A1_ORACLE = """
    SELECT count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types
    FROM events
"""


def q_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


# X8 timestamp formatting: the reference stamps every record with
# '%Y-%m-%d %H:%M:%S' (pet_scraper.py:117); date_format over event-time in
# an explicit UTC session so rendering is engine- and host-TZ-portable.
# Folded into ref_scalar_suite.
_X8_ORACLE = """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS fetched_at
    FROM events
"""


def q_timestamp_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.functions.scalars import timestamp_fmt
    from petfinder_database_distributor_spark.streaming.incremental import scoped_conf

    # date_format renders in the session timezone; pin UTC so the string is
    # identical to DuckDB's TZ-naive strftime regardless of host TZ (the
    # grading driver builds a vanilla session that inherits the host TZ).
    # SCOPED, not a permanent session mutation: the timezone is captured
    # into the plan at analysis (DataFrame construction happens inside the
    # scope), so later queries on the shared session see their original TZ
    # and session state stays order-independent.
    with scoped_conf(spark, spark__sql__session__timeZone="UTC"):
        ev = load_table(spark, sf_dir, "events")
        return ev.select("event_id", timestamp_fmt(F.col("ts")).alias("fetched_at"))


# ---------------------------------------------------------------------------
# Composite scalar suite: ONE registered query covering the
# seven trivially-green scalar/count checks above, at full value fidelity.
# ---------------------------------------------------------------------------

def _family_sql(check: str, family_sql: str, rendered: str) -> str:
    """One composite row from one folded family: count + an order-free
    exact checksum (sum of the portable 60-bit md5int over the rendered
    row). DuckDB's sum(BIGINT) accumulates in HUGEINT, Spark's in
    DECIMAL(38,0) — both exact at any corpus size — and the checksum is
    compared as a digit STRING so no float canonicalization can round it."""
    from petfinder_database_distributor_spark.operators.text import MD5INT_SQL

    return f"""
    SELECT '{check}' AS check_name, count(*) AS n_rows,
           coalesce(sum({MD5INT_SQL.format(x="r")}), 0)::VARCHAR AS checksum
    FROM (SELECT {rendered} AS r FROM ({family_sql}))
    """


def _bool_sql(c: str) -> str:
    return f"CASE WHEN {c} IS NULL THEN '∅' ELSE {c}::VARCHAR END"


_SUITE_ORACLE = " UNION ALL ".join(
    [
        _family_sql("x1_clean_text", _X1_ORACLE, "coalesce(cleaned, '∅')"),
        _family_sql(
            "x2_parse_boolean",
            _X2_ORACLE,
            f"{_bool_sql('lang_bool')} || '|' || {_bool_sql('source_bool')}"
            f" || '|' || {_bool_sql('tri_state')}",
        ),
        _family_sql(
            "x3_extract_name",
            _X3_ORACLE,
            "coalesce(extracted, '∅') || '|' || coalesce(passthrough, '∅')",
        ),
        _family_sql(
            "x4x5_export_encode",
            _X45_ORACLE,
            "coalesce(about_me_encoded, '∅') || '|' || coalesce(flag_encoded, '∅')",
        ),
        _family_sql("x6_url_normalize", _X6_ORACLE, "coalesce(abs_url, '∅')"),
        _family_sql("x8_timestamp_fmt", _X8_ORACLE, "coalesce(fetched_at, '∅')"),
        # A1: the distinct counts fold into the checksum (n_users scaled so
        # both counts are recoverable), n_rows is the row count itself.
        f"""
        SELECT 'a1_counts' AS check_name, n_rows,
               (n_users * 1000000 + n_types)::VARCHAR AS checksum
        FROM ({_A1_ORACLE})
        """,
    ]
)


def _bool_render(c: str) -> F.Column:
    return F.when(F.col(c).isNull(), F.lit("∅")).otherwise(
        F.col(c).cast("string")
    )


def _family_checksum(df: DataFrame, check: str, rendered: F.Column) -> DataFrame:
    from petfinder_database_distributor_spark.operators.text import md5int

    return (
        df.select(rendered.alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(md5int(F.col("r")).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("string")
            .alias("checksum"),
        )
        .select(F.lit(check).alias("check_name"), "n_rows", "checksum")
    )


def _str_render(*cols: str) -> F.Column:
    return F.concat_ws(
        "|", *[F.coalesce(F.col(c), F.lit("∅")) for c in cols]
    )


@register(
    "ref_scalar_suite",
    oracle=_SUITE_ORACLE,
    doc="Composite driver check for the reference's scalar/count surface "
    "(X1 clean_text, X2 parse_boolean, X3 extract_name, X4+X5 export "
    "encode, X6 url normalize, X8 timestamp format, A1 counts): one row "
    "per family with an exact order-free md5int checksum over every "
    "rendered value — full value fidelity of the seven previously-separate "
    "trivial queries in ONE registered query. The "
    "individual functions keep their unit tests in "
    "tests/test_reference_semantics.py.",
)
def ref_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        _family_checksum(
            q_clean_text(spark, sf_dir), "x1_clean_text", _str_render("cleaned")
        ),
        _family_checksum(
            q_parse_boolean(spark, sf_dir),
            "x2_parse_boolean",
            F.concat_ws(
                "|",
                _bool_render("lang_bool"),
                _bool_render("source_bool"),
                _bool_render("tri_state"),
            ),
        ),
        _family_checksum(
            q_extract_name(spark, sf_dir),
            "x3_extract_name",
            _str_render("extracted", "passthrough"),
        ),
        _family_checksum(
            q_export_encode(spark, sf_dir),
            "x4x5_export_encode",
            _str_render("about_me_encoded", "flag_encoded"),
        ),
        _family_checksum(
            q_url_normalize(spark, sf_dir), "x6_url_normalize", _str_render("abs_url")
        ),
        _family_checksum(
            q_timestamp_fmt(spark, sf_dir), "x8_timestamp_fmt", _str_render("fetched_at")
        ),
        q_counts(spark, sf_dir).select(
            F.lit("a1_counts").alias("check_name"),
            F.col("n_rows"),
            (F.col("n_users") * 1000000 + F.col("n_types"))
            .cast("string")
            .alias("checksum"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
