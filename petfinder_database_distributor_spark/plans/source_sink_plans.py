"""S1/S2 fetch-pipeline and S3/S5/S8/S9 export queries (SURVEY.md §2.1).

The fetch query runs the REAL acquisition plan shape — urls → pandas-UDF
fetch → xpath projection → clean stack — against the deterministic fixture
fetcher, so the oracle can state the expected output directly from the key
(the fetch+extract path itself is what's being checked).

The export round-trip query pushes a typed table through the reference's
complete on-disk encoding (strings + 'True'/'False'/'' booleans + newline
escaping), writes real CSV files, reads them back with an explicit schema
and decodes — the oracle states the net effect ('' and NULL collapse to
NULL for strings; tri-state booleans survive exactly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import (
    CANONICAL_URL_SQL,
    clean_text,
    extract_name_from_about,
    parse_boolean,
)
from petfinder_database_distributor_spark.operators.extraction import (
    regex_field_columns,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import finite_measures, load_table
from petfinder_database_distributor_spark.sources.export import (
    decode_from_export,
    encode_for_export,
    json_rows,
    read_csv_table,
    write_csv_table,
)
from petfinder_database_distributor_spark.sources.fetch import fetch_documents
from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT
from petfinder_database_distributor_spark.util import ensure_parallelism


@register(
    "s1_fetch_extract",
    oracle="""
    SELECT p_partkey AS pet_key,
           'Pet ' || p_partkey AS name,
           CASE p_partkey % 3 WHEN 0 THEN 'Adult' WHEN 1 THEN 'Young' ELSE 'Senior' END AS age,
           CASE p_partkey % 2 WHEN 0 THEN 'Male' ELSE 'Female' END AS gender
    FROM part
    """,
    doc="S1+P1+X1/X3 acquisition pipeline: url list → pandas-UDF fetch (fixture) → "
    "field projection (JVM-regex fast path; xpath semantics stay value-checked in "
    "p1_xpath_project/p3_link_fanout_xpath) → clean stack "
    "(pet_scraper.py:60-93, :97-161, :241-249)",
)
def s1_fetch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = ensure_parallelism(load_table(spark, sf_dir, "part"))
    urls = parts.select(
        F.col("p_partkey").alias("pet_key"),
        F.concat(
            F.lit("https://www.petfinder.com/pet/"),
            F.col("p_partkey").cast("string"),
            F.lit("/details/"),
        ).alias("url"),
    )
    pages = urls.withColumn("html", fetch_documents(F.col("url"))).filter(
        F.col("html").isNotNull()  # T7: failed fetches drop out here
    )
    projected = regex_field_columns(
        pages,
        "html",
        {"raw_name": "name", "age": "age", "gender": "gender"},
        keep=("pet_key",),
    )
    return projected.select(
        "pet_key",
        extract_name_from_about(clean_text(F.col("raw_name"))).alias("name"),
        "age",
        "gender",
    )


def _typed_pets_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed rows with the reference's value mixes: nullable strings, a
    long-text column with embedded newlines, a tri-state boolean."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("pet/"), F.col("doc_id").cast("string")).alias("link"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 5 == 0, F.lit(""))
        .otherwise(F.col("source"))
        .alias("name"),
        F.concat(F.col("lang"), F.lit("\n"), F.substring(F.col("text"), 1, 40), F.lit("\rend"))
        .alias("about_me"),
        parse_boolean(F.nullif(F.col("lang"), F.lit("en"))).alias("flag"),
    )


@register(
    "export_roundtrip_csv",
    oracle="""
    SELECT 'pet/' || doc_id AS link,
           nullif(CASE WHEN doc_id % 7 = 0 THEN NULL
                       WHEN doc_id % 5 = 0 THEN '' ELSE source END, '') AS name,
           replace(replace(lang || chr(10) || substring(text, 1, 40) || chr(13) || 'end',
                   chr(10), '\\n'), chr(13), '\\n') AS about_me,
           CASE WHEN lang IS NULL OR trim(lang) = '' OR lang = 'en' THEN NULL
                WHEN contains(lang, 'no') OR contains(lang, 'false') OR contains(lang, 'n')
                     THEN FALSE
                WHEN contains(lang, 'yes') OR contains(lang, 'true') OR contains(lang, 'y')
                     THEN TRUE
                ELSE TRUE END AS flag
    FROM documents
    """,
    doc="S5→S3 round-trip through the full on-disk encoding: typed table → "
    "encode (P4/X4/X5) → real CSV write → schema'd scan → decode; tri-state "
    "booleans survive, '' and NULL strings collapse to NULL (the documented "
    "CSV-boundary semantics, SURVEY.md §1.3)",
)
def export_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    typed = _typed_pets_ish(spark, sf_dir)
    encoded = encode_for_export(
        typed,
        string_cols=["link", "name", "about_me"],
        bool_cols=["flag"],
        text_cols=["about_me"],
    )
    path = f"{SCRATCH_ROOT}/export_csv_{os.path.basename(sf_dir.rstrip('/'))}"
    write_csv_table(encoded, path, single_file=True)
    raw = read_csv_table(
        spark, path, "link string, name string, about_me string, flag string"
    )
    return decode_from_export(raw, ["flag"])


@register(
    "s8_json_rows",
    oracle="""
    SELECT to_json(struct_pack(
             link := 'pet/' || doc_id,
             name := CASE WHEN doc_id % 7 = 0 THEN '' WHEN doc_id % 5 = 0 THEN ''
                          ELSE coalesce(source, '') END,
             flag := CASE WHEN lang IS NULL OR trim(lang) = '' OR lang = 'en' THEN ''
                          WHEN contains(lang, 'no') OR contains(lang, 'false')
                               OR contains(lang, 'n') THEN 'False'
                          WHEN contains(lang, 'yes') OR contains(lang, 'true')
                               OR contains(lang, 'y') THEN 'True'
                          ELSE 'True' END))::VARCHAR AS payload
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="S8 JSON serving projection: one compact JSON object per row over the "
    "export-encoded columns (server.py:463-490). NULL doc_id rows are "
    "excluded: a serving row without a key has no link, and the two engines "
    "render the keyless object differently ('' vs null).",
)
def s8_json_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    typed = _typed_pets_ish(spark, sf_dir).drop("about_me").filter(
        F.col("link").isNotNull()
    )
    encoded = encode_for_export(
        typed, string_cols=["link", "name"], bool_cols=["flag"]
    )
    return json_rows(encoded, ["link", "name", "flag"])


@register(
    "g1_datasource_ingest",
    oracle="""
    SELECT g.page, t.pet_type, s.i AS slot,
           'https://www.petfinder.com/pet/' || ((g.page * 2 + t.ti) * 12 + s.i)
             || '/details/' AS url
    FROM generate_series(1, 50) g(page),
         (VALUES ('dog', 0), ('cat', 1)) t(pet_type, ti),
         generate_series(1, 12) s(i)
    WHERE (g.page + s.i) % 5 <> 0
    """,
    doc="G1+S2+P3 through a REAL Spark table source: custom Python Data Source "
    "enumerates page x pet-type and fetches fixture pages (partitioned page "
    "ranges), then xpath fan-out + URL absolutization downstream",
)
def g1_datasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.functions.scalars import normalize_url
    from petfinder_database_distributor_spark.operators.extraction import (
        explode_links_fast,
    )
    from petfinder_database_distributor_spark.sources.pages_datasource import (
        register_pet_pages,
    )

    register_pet_pages(spark)
    # 2 partitions at this 50-page bench scale: each Python-source partition
    # pays a Python-worker spin-up, which dominates a 1,200-row generator.
    # At real scale n_partitions rises with n_pages (the reader splits page
    # ranges evenly) — the source itself enumerates nothing on the driver.
    pages = (
        spark.read.format("pet_pages")
        .option("n_pages", 50)
        .option("n_partitions", 2)
        .load()
    )
    links = explode_links_fast(pages, "html", keep=("page", "pet_type"))
    return links.select(
        "page",
        "pet_type",
        F.col("slot").cast("int").alias("slot"),
        normalize_url(F.col("href")).alias("url"),
    )


@register(
    "merge_partitioned_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us
    FROM events
    WHERE event_id % 4 <> 3 OR user_id % 8 IN (0, 1)
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="D2 at scale: partition-scoped upsert via dynamic partition overwrite — "
    "base load, then a second batch touching only 2 of 8 hash-bucket "
    "partitions; untouched partitions are never read or rewritten "
    "(tests/test_merge_partitioned.py asserts their files are byte-untouched)",
)
def merge_partitioned_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.operators.dedup import (
        merge_into_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", (F.col("user_id") % 8).alias("bucket")
    )
    table_dir = f"{SCRATCH_ROOT}/merge_part_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(table_dir, ignore_errors=True)
    base = ev.filter(F.col("event_id") % 4 != 3)
    merge_into_partitioned(
        spark, table_dir, base, ["user_id"], ["ts", "event_id"], "bucket"
    )
    updates = ev.filter((F.col("event_id") % 4 == 3) & (F.col("user_id") % 8 <= 1))
    merge_into_partitioned(
        spark, table_dir, updates, ["user_id"], ["ts", "event_id"], "bucket"
    )
    import glob

    if not glob.glob(f"{table_dir}/*/*.parquet"):
        # empty events table: the dynamic-partition-overwrite writes
        # emitted zero files, so the read can't infer a schema — the
        # merged state of nothing is empty (degenerate-input contract)
        return spark.createDataFrame(
            [], "user_id long, last_event_id long, last_ts_us long"
        )
    final = spark.read.parquet(table_dir)
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
    )


@register(
    "export_roundtrip_jsonl",
    oracle="""
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
    FROM events
    """,
    doc="S8-format round-trip through JSON Lines as a SOURCE, not just a "
    "sink: typed events → real .jsonl files on disk → schema'd scan back → "
    "identical table. JSONL is the interchange format training pipelines "
    "actually exchange (one object per line, splittable, appendable); the "
    "check is that the full dirty-events surface survives the text "
    "boundary — NULL ts/user/type/value (absent keys on write, NULL on "
    "read), doubles via Jackson shortest-round-trip repr, timestamps "
    "pre-flattened to epoch micros so no format string is involved. "
    "Explicit read schema (never inferSchema: at 100 TB schema inference "
    "is a full extra pass).",
)
def export_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    path = f"{SCRATCH_ROOT}/export_jsonl_{os.path.basename(sf_dir.rstrip('/'))}"
    ev.write.mode("overwrite").json(path)
    return spark.read.schema(
        "event_id long, user_id long, event_type string, value double, ts_us long"
    ).json(path)


@register(
    "export_roundtrip_orc",
    oracle="""
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
    FROM events
    WHERE event_type = 'click'
    """,
    doc="Columnar round-trip through ORC — the second columnar format a "
    "Spark lakehouse actually meets (Hive-era tables): typed events → ORC "
    "files → scan back with a predicate. Unlike the JSONL boundary, the "
    "interesting property is PUSHDOWN: the event_type filter reaches the "
    "ORC reader (PushedFilters, asserted in tests/test_plan_quality.py), "
    "so at 100 TB the scan skips entire stripes via ORC's min/max stripe "
    "statistics instead of decoding every row. Timestamps pre-flattened "
    "to epoch micros (the TZ-fragility contract every export query "
    "follows); NULL event_type rows fall out of the predicate in both "
    "engines.",
)
def export_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    path = f"{SCRATCH_ROOT}/export_orc_{os.path.basename(sf_dir.rstrip('/'))}"
    ev.write.mode("overwrite").orc(path)
    return spark.read.orc(path).filter(F.col("event_type") == "click")


@register(
    "parquet_schema_evolution",
    oracle="""
    SELECT doc_id, lang, NULL::BIGINT AS n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, NULL, n_chars
    FROM documents WHERE doc_id % 2 = 1
    """,
    doc="Schema evolution at the parquet boundary: two generations of the "
    "same dataset land with DIFFERENT schemas (an early batch carrying "
    "(doc_id, lang), a later one carrying (doc_id, n_chars) — the normal "
    "drift of a long-lived ingest), and ONE mergeSchema read reconstructs "
    "the union schema with NULLs for each generation's missing columns. "
    "At 100 TB this is how a pipeline reads years of accumulated "
    "snapshots without rewriting old files; mergeSchema's footer "
    "reconciliation is a metadata operation, the data pages are never "
    "touched. NULL doc_id rows fall out of both generation predicates "
    "(NULL % 2 matches neither) in both engines.",
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    path = f"{SCRATCH_ROOT}/schema_evo_{os.path.basename(sf_dir.rstrip('/'))}"
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=1")
    docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars").write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return merged.select("doc_id", "lang", F.col("n_chars").cast("long"))


@register(
    "text_log_parse",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_lines,
           CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2))
                AS DOUBLE) AS total_value
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      AND value IS NOT NULL AND ts IS NOT NULL AND isfinite(value) AND abs(value) < 1000000000000.0
    GROUP BY event_type
    """,
    doc="Raw-log text source: events rendered as classic log lines "
    "('<epoch_us> user=<id> type=<type> value=<v>'), written as real .txt "
    "files, read back with spark.read.text and parsed with ONE compiled "
    "regexp via regexp_extract — the shape of every 100 TB raw-log ingest "
    "(text scan is splittable by line; the regex runs inside whole-stage "
    "codegen, never a Python UDF). Values survive the text boundary via "
    "Java's shortest-round-trip double repr (%s), so the post-parse "
    "aggregate matches the source table bit-for-bit. Rows with NULL "
    "key fields are not rendered (a log line has no representation for "
    "them) — the oracle states the same predicate.",
)
def text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    lines = ev.select(
        F.concat(
            F.unix_micros("ts").cast("string"),
            F.lit(" user="), F.col("user_id").cast("string"),
            F.lit(" type="), F.col("event_type"),
            F.lit(" value="), F.col("value").cast("string"),
        ).alias("value")
    )
    path = f"{SCRATCH_ROOT}/logtext_{os.path.basename(sf_dir.rstrip('/'))}"
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    # Total over the rendered domain: ts may be negative (pre-1970),
    # event_type may contain spaces (greedy .* backtracks to the LAST
    # ' value=' — safe because the value field itself never has spaces),
    # so no rendered line can silently fail the match into a phantom
    # empty-string group.
    pat = r"^(-?\d+) user=(-?\d+) type=(.*) value=(\S+)$"
    # ONE regex evaluation per row (four regexp_extract
    # calls quadruple the codegen regex work on a corpus-sized scan):
    # rewrite the matched line into \x01-separated groups, then project
    # the fields with cheap splits. \x01 cannot appear in rendered lines
    # (digits, '=', and parquet strings the generator draws from ASCII).
    packed = F.split(
        F.regexp_replace("value", pat, "$1\x01$2\x01$3\x01$4"), "\x01"
    )
    parsed = raw.select(
        packed.getItem(0).cast("long").alias("ts_us"),
        packed.getItem(1).cast("long").alias("user_id"),
        packed.getItem(2).alias("event_type"),
        packed.getItem(3).cast("double").alias("value"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(32,2)")
        .cast("double")
        .alias("total_value"),
    )


@register(
    "snapshot_merge_upsert",
    oracle="""
    WITH old AS (
      SELECT event_id, event_type, value, 1 AS version
      FROM events WHERE event_id % 3 <> 0 AND event_id IS NOT NULL
    ), new AS (
      SELECT event_id, upper(event_type) AS event_type,
             value + 1000 AS value, 2 AS version
      FROM events WHERE event_id % 2 = 0 AND event_id IS NOT NULL
    )
    SELECT coalesce(n.event_id, o.event_id) AS event_id,
           coalesce(n.event_type, o.event_type) AS event_type,
           coalesce(n.value, o.value) AS value,
           coalesce(n.version, o.version) AS version
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    """,
    doc="D2 upsert through the manifest-committed snapshot table: base "
    "snapshot -> atomic snapshot_merge of the update batch -> read back "
    "the committed version. The commit protocol "
    "generalizes the reference's tmp+fsync+rename (pet_scraper.py:468-488) "
    "from one CSV to a many-file table: data files are immutable under "
    "data/v{N}/, a manifest names exactly version N's files, and a single "
    "_latest pointer swap publishes the snapshot — readers resolve "
    "pointer->manifest->file-list, so a crash mid-merge leaves them on the "
    "intact old version (the serving-during-rewrite guarantee of "
    "server.py:299-307). Crash points and writer conflicts are pinned in "
    "tests/test_snapshot_table.py. The winner rule (row_number by version "
    "desc per key) is the same idempotent merge the streaming sink uses, "
    "restated by the oracle as a FULL OUTER coalesce (new rows carry every "
    "column, so row-wins == column-coalesce).",
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.streaming.incremental import (
        SCRATCH_ROOT,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    base = ev.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "event_type", "value", F.lit(1).alias("version")
    )
    batch = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.upper("event_type").alias("event_type"),
        (F.col("value") + 1000).alias("value"),
        F.lit(2).alias("version"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snapshot_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, base)
    snapshot_merge(
        spark, table_dir, batch, key_cols=["event_id"], order_cols=["version"]
    )
    return snapshot_read(spark, table_dir).select(
        "event_id", "event_type", "value", "version"
    )


_RAW_URL_SQL = """
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'https://www.petfinder.com' || p || '?b=2&a=1'
             WHEN 1 THEN 'HTTPS://WWW.PETFINDER.COM:443' || p
                         || '?a=1&b=2&utm_source=feed'
             WHEN 2 THEN 'https://www.petfinder.com' || p
                         || '?a=1&utm_campaign=x&b=2#frag'
             WHEN 3 THEN 'http://www.petfinder.com:80' || p
             ELSE 'https://www.petfinder.com' || p || '?b=2&a=1&gclid=abc'
           END AS raw_url
    FROM (SELECT doc_id, '/' || source || '/item/' || (doc_id % 97) AS p
          FROM documents
          WHERE doc_id IS NOT NULL AND source IS NOT NULL)
"""


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH raw AS ({_RAW_URL_SQL})
    SELECT {CANONICAL_URL_SQL.format(x="raw_url")} AS canonical_url,
           count(*) AS n_raw,
           count(DISTINCT raw_url) AS n_distinct_raw
    FROM raw GROUP BY 1
    """,
    doc="X6 generalized to the crawl-scale frontier/dedup key: URL "
    "canonicalization (case-fold scheme+authority, strip scheme-default "
    "port, drop fragment, drop utm_*/fbclid/gclid tracking params, sort "
    "surviving query params) followed by a group-count — raw variants that "
    "differ only in those axes collapse to one canonical resource. Pure "
    "narrow expressions into one hash aggregate: at 100 TB this is a "
    "map-side projection plus the one shuffle any dedup needs. The "
    "deterministic variant fixture plants five raw forms per document "
    "(param order, case+explicit :443, fragment+utm, :80 http, gclid), so "
    "four of five collapse per key and the http:// form stays distinct — "
    "scheme is load-bearing, not noise. Canonicalizer and oracle restate "
    "each other operator-for-operator (CANONICAL_URL_SQL lives beside "
    "canonicalize_url in functions/scalars.py).",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.functions.scalars import (
        canonicalize_url,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    p = F.concat(
        F.lit("/"), F.col("source"), F.lit("/item/"), (F.col("doc_id") % 97).cast("string")
    )
    raw = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("https://www.petfinder.com"), p, F.lit("?b=2&a=1")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("HTTPS://WWW.PETFINDER.COM:443"), p,
                       F.lit("?a=1&b=2&utm_source=feed")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("https://www.petfinder.com"), p,
                       F.lit("?a=1&utm_campaign=x&b=2#frag")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("http://www.petfinder.com:80"), p))
        .otherwise(
            F.concat(F.lit("https://www.petfinder.com"), p,
                     F.lit("?b=2&a=1&gclid=abc")))
        .alias("raw_url"),
    )
    return (
        raw.groupBy(canonicalize_url(F.col("raw_url")).alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("raw_url").alias("n_distinct_raw"),
        )
    )


@register(
    "snapshot_partitioned_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us
    FROM events
    WHERE (event_id % 4 <> 3 OR user_id % 8 IN (0, 1))
      AND user_id IS NOT NULL AND ts IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="merge_partitioned_upsert's semantics through the MANIFEST-COMMITTED "
    "partitioned snapshot (sources/snapshot.py): base load, then a second "
    "batch touching only 2 of 8 hash-bucket partitions. Each file holds one "
    "bucket, recorded as its zone map in the flat manifest file list, so "
    "each commit rewrites ONLY the files whose zone map may hold a batch "
    "bucket and carries every other file forward with its stats — "
    "file-level copy-on-write, O(changed partitions) I/O per commit, atomic pointer-swap publish, "
    "old version fully readable during and after (file reuse is asserted "
    "in tests/test_snapshot_table.py, retention-safe vacuum included). "
    "This closes the gap the plain snapshot_merge left: full-table "
    "rewrites per commit are the reference's O(table) CSV flaw at table "
    "granularity.",
)
def snapshot_partitioned_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id", "event_id", "ts", (F.col("user_id") % 8).alias("bucket")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_part_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    base = ev.filter(F.col("event_id") % 4 != 3)
    snapshot_merge_partitioned(
        spark, table_dir, base, ["user_id"], ["ts", "event_id"], "bucket"
    )
    updates = ev.filter((F.col("event_id") % 4 == 3) & (F.col("user_id") % 8 <= 1))
    snapshot_merge_partitioned(
        spark, table_dir, updates, ["user_id"], ["ts", "event_id"], "bucket"
    )
    return snapshot_read_partitioned(spark, table_dir).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
    )


@register(
    "snapshot_cdc_diff",
    oracle="""
    WITH old AS (
      SELECT c_custkey AS k, c_name AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, 1 AS ver
      FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 3 <> 0
    ), upd AS (
      SELECT c_custkey AS k, upper(c_name) AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) + 1000 AS bal_cents,
             2 AS ver
      FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 5 = 0
    ), merged AS (
      SELECT coalesce(u.k, o.k) AS k,
             CASE WHEN u.k IS NOT NULL THEN u.name ELSE o.name END AS name,
             CASE WHEN u.k IS NOT NULL THEN u.bal_cents
                  ELSE o.bal_cents END AS bal_cents,
             CASE WHEN u.k IS NOT NULL THEN u.ver ELSE o.ver END AS ver
      FROM old o FULL OUTER JOIN upd u ON o.k = u.k
    ), newv AS (
      SELECT * FROM merged WHERE k % 7 <> 0
    ), j AS (
      SELECT o.k AS ok, n.k AS nk,
             o.name AS oname, o.bal_cents AS obal, o.ver AS over,
             n.name AS nname, n.bal_cents AS nbal, n.ver AS nver
      FROM old o FULL OUTER JOIN newv n ON o.k = n.k
    )
    SELECT * FROM (
      SELECT nk AS k, nname AS name, nbal AS bal_cents, nver AS ver,
             'insert' AS change_type FROM j WHERE ok IS NULL
      UNION ALL
      SELECT ok, oname, obal, over, 'delete' FROM j WHERE nk IS NULL
      UNION ALL
      SELECT ok, oname, obal, over, 'update_preimage' FROM j
      WHERE ok IS NOT NULL AND nk IS NOT NULL
        AND (oname IS DISTINCT FROM nname OR obal IS DISTINCT FROM nbal
             OR over IS DISTINCT FROM nver)
      UNION ALL
      SELECT nk, nname, nbal, nver, 'update_postimage' FROM j
      WHERE ok IS NOT NULL AND nk IS NOT NULL
        AND (oname IS DISTINCT FROM nname OR obal IS DISTINCT FROM nbal
             OR over IS DISTINCT FROM nver)
    )
    """,
    doc="Row-level change-data capture through the snapshot table (the "
    "public change-data-feed shape, Delta CDF / Iceberg changelog): "
    "commit a base version, upsert-merge an update batch (snapshot_merge, "
    "version-ordered winner rule), tombstone-delete a key slice, then "
    "emit snapshot_diff(v0 -> latest) — one row per change with "
    "change_type in {insert, delete, update_preimage, update_postimage}; "
    "updates emit BOTH images so a downstream aggregate can retract the "
    "old contribution and apply the new one. The diff is one full-outer "
    "shuffle join of (key, struct-of-values) pairs classified by "
    "null-sidedness and null-safe struct inequality — O(table), the "
    "honest floor for keyed CDC without a stored change log (append-only "
    "chains take the O(delta) manifest path, snapshot_incremental_read). "
    "Merge-on-read tombstones surface as 'delete' changes with no "
    "special-casing because the diff reads THROUGH snapshot_read. The "
    "oracle restates the whole version chain declaratively: winner-merge "
    "as row-wins CASE over a full outer join, the tombstone as a key "
    "filter, and the CDC classification as IS DISTINCT FROM unions.",
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_diff,
        snapshot_merge,
        snapshot_write,
    )

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        bal.alias("bal_cents"),
        F.lit(1).alias("ver"),
    )
    updates = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("k"),
        F.upper("c_name").alias("name"),
        (bal + 1000).alias("bal_cents"),
        F.lit(2).alias("ver"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_cdc_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    v0 = snapshot_write(spark, table_dir, base)
    snapshot_merge(spark, table_dir, updates, key_cols=["k"], order_cols=["ver"])
    snapshot_delete(
        spark,
        table_dir,
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("k")),
        ["k"],
    )
    return snapshot_diff(spark, table_dir, ["k"], v_from=v0)


@register(
    "snapshot_incremental_read",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE event_id IS NOT NULL AND event_id % 4 IN (1, 2)
    """,
    doc="O(delta) incremental consumption of an append-only snapshot "
    "chain: three commits land event slices as v0 (base write) then two "
    "snapshot_append batches; snapshot_read_since(v0) scans ONLY the "
    "files the two appends added — the change set is a manifest set "
    "difference computed from kilobytes of metadata, so a downstream "
    "sync pays for new data, never for table size (at 100 TB this is "
    "the difference between a change feed and a full re-read per sync). "
    "The reader refuses non-append chains (a merge/compaction rewrote "
    "files away) instead of mislabeling rewritten rows as new — keyed "
    "row-level changes across rewrites are snapshot_cdc_diff's job. The "
    "oracle states the net effect directly: exactly the appended slices.",
)
def snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read_since,
        snapshot_write,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())

    def batch(r: int) -> DataFrame:
        return ev.filter(F.col("event_id") % 4 == r).select(
            "event_id", "user_id", "event_type"
        )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_incr_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    v0 = snapshot_write(spark, table_dir, batch(0))
    snapshot_append(spark, table_dir, batch(1))
    snapshot_append(spark, table_dir, batch(2))
    return snapshot_read_since(spark, table_dir, since_version=v0)


@register(
    "snapshot_evolve_columns",
    oracle="""
    SELECT p_partkey AS pk, p_name AS name,
           CAST(NULL AS BIGINT) AS retail_cents
    FROM part WHERE p_partkey IS NOT NULL AND p_partkey % 2 = 0
    UNION ALL
    SELECT p_partkey, p_name, CAST(round(p_retailprice * 100) AS BIGINT)
    FROM part WHERE p_partkey IS NOT NULL AND p_partkey % 2 = 1
    """,
    doc="Additive schema evolution on the snapshot table: v0 commits a "
    "two-column slice, an evolve_schema append lands a batch carrying a "
    "NEW retail_cents column, and the latest read serves BOTH under the "
    "evolved schema — rows from files that predate the column surface "
    "NULL for it. No data file is rewritten for the schema change (the "
    "append manifest reuses v0's files verbatim, pinned in "
    "tests/test_snapshot_table.py): the manifest's recorded schema is "
    "the single read-time authority, applied as an explicit Spark read "
    "schema with name-based parquet resolution — which also kills "
    "per-file footer merging, the hidden O(files) metadata scan "
    "mergeSchema pays at 100 TB. Type drift on same-name columns is "
    "refused on both append paths; time travel to v0 keeps the "
    "pre-evolution schema. The oracle states the net effect: the old "
    "slice with a NULL column, unioned with the new slice.",
)
def snapshot_evolve_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read,
        snapshot_write,
    )

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey").isNotNull())
    base = part.filter(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("pk"), F.col("p_name").alias("name")
    )
    evolved = part.filter(F.col("p_partkey") % 2 == 1).select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("retail_cents"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_evolve_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, base)
    snapshot_append(spark, table_dir, evolved, evolve_schema=True)
    return snapshot_read(spark, table_dir)


@register(
    "mv_incremental_maintenance",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2))
                AS DOUBLE) AS total_value
    FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      AND value IS NOT NULL AND isfinite(value) AND abs(value) < 1000000000000.0
    GROUP BY event_type
    """,
    doc="Incremental view maintenance driven by the snapshot version "
    "chain (the bronze->silver lakehouse loop): a producer lands three "
    "event slices on a bronze table (one snapshot_write + two O(batch) "
    "snapshot_appends), and a DECOUPLED consumer advances a materialized "
    "per-type aggregate by reading ONLY each commit's delta "
    "(snapshot_read_since — a manifest set difference, O(new data) "
    "regardless of bronze size) and folding decimal-exact partial "
    "aggregates into the silver table with conflict-checked snapshot "
    "commits. Per sync the consumer scans [delta + current silver keys], "
    "never bronze history — the property that keeps a 100 TB pipeline's "
    "sync cost flat as history grows. Decimal partials make the fold "
    "bit-identical to one batch aggregate, which is exactly what the "
    "oracle computes over all events; hash parity therefore proves the "
    "maintenance loop's algebra (count-sum fold over disjoint deltas), "
    "not just row counts.",
)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version,
        snapshot_append,
        snapshot_read,
        snapshot_read_since,
        snapshot_write,
    )

    ev = finite_measures(load_table(spark, sf_dir, "events")).filter(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    ).select("event_id", "event_type", "value")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    bronze = f"{SCRATCH_ROOT}/mv_bronze_{tag}"
    silver = f"{SCRATCH_ROOT}/mv_silver_{tag}"
    shutil.rmtree(bronze, ignore_errors=True)  # deterministic per call
    shutil.rmtree(silver, ignore_errors=True)

    # producer: three append-only commits of disjoint slices
    versions = [snapshot_write(spark, bronze, ev.filter(F.col("event_id") % 3 == 0))]
    for r in (1, 2):
        versions.append(
            snapshot_append(spark, bronze, ev.filter(F.col("event_id") % 3 == r))
        )

    # consumer: advance the materialized aggregate one delta at a time
    seen = None
    for v in versions:
        delta = (
            snapshot_read(spark, bronze, version=v)
            if seen is None
            else snapshot_read_since(spark, bronze, seen, version=v)
        )
        partial = delta.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
        sbase = latest_version(silver)
        merged = (
            partial
            if sbase is None
            else snapshot_read(spark, silver)
            .unionByName(partial)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value").cast("decimal(38,6)").alias("total_value"),
            )
        )
        snapshot_write(spark, silver, merged, base_version=sbase)
        seen = v

    return snapshot_read(spark, silver).select(
        "event_type",
        "n_events",
        F.col("total_value").cast("decimal(32,2)").cast("double").alias("total_value"),
    )


@register(
    "snapshot_pruned_scan",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      AND value IS NOT NULL AND isfinite(value) AND abs(value) < 1000000000000.0
      -- TRY_CAST: AND conjuncts carry no evaluation-order guarantee, so
      -- the cast may run BEFORE the isfinite conjunct has excluded NaN
      -- (observed in the dirty-data sweep); NULL BETWEEN is never true
      AND TRY_CAST(round(value * 100) AS BIGINT) BETWEEN 10000 AND 30000
    GROUP BY event_type
    """,
    doc="Manifest-level data skipping end-to-end: events are committed "
    "range-clustered on a cents column with per-file min/max zone maps "
    "recorded in the manifest (one footer pass at COMMIT time, pyarrow "
    "metadata only), then a range-filtered read prunes non-overlapping "
    "files on driver-side metadata BEFORE any file listing or footer "
    "I/O — the step parquet row-group stats can't give you at 100 TB, "
    "where Spark still opens every file just to learn it can skip it. "
    "Range clustering makes the zone maps tight (pair with zorder_layout "
    "for multi-column locality); absent stats degrade to a full scan, "
    "and the exact predicate is re-applied on survivors so results never "
    "depend on stats correctness (pruning effectiveness itself is pinned "
    "in tests/test_snapshot_table.py). The oracle is the plain filtered "
    "aggregate over the source table.",
)
def snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_read_pruned,
        snapshot_write,
    )

    ev = finite_measures(load_table(spark, sf_dir, "events")).filter(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_prune_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(
        spark, table_dir, ev.repartitionByRange(8, "cents"), stats_cols=["cents"]
    )
    pruned = snapshot_read_pruned(spark, table_dir, "cents", 10000, 30000)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "snapshot_source_scan",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_orderkey IS NOT NULL AND o_orderkey < 1000
    GROUP BY o_orderpriority
    """,
    doc="The snapshot table format driven entirely through Spark's own "
    "source/sink API (Spark 4 Python DataSource, sources/"
    "snapshot_datasource.py): two order slices land via df.write.format"
    "('snapshot') — an atomic multi-task overwrite then an append whose "
    "manifest carries the first commit's files forward verbatim, each "
    "task staging one parquet file and the driver publishing them with "
    "the shared manifest + pointer-swap protocol — and the read is "
    "spark.read.format('snapshot') with a range predicate that Spark "
    "4.1's Python filter pushdown hands to the source, which prunes "
    "non-overlapping files against the manifest's zone maps at PLANNING "
    "time (the append slice never becomes an input partition; "
    "tests/test_snapshot_datasource.py pins the partition count). Every "
    "pushed filter is also re-applied by Spark, so stats are skipping, "
    "never correctness. The oracle is the plain filtered aggregate over "
    "the source table.",
)
def snapshot_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_ds_scan_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    lo = orders.filter(F.col("o_orderkey") < 1000)
    hi = orders.filter(F.col("o_orderkey") >= 1000)
    lo.coalesce(2).write.format("snapshot").mode("overwrite").option(
        "statsCols", "o_orderkey"
    ).save(table_dir)
    hi.coalesce(4).write.format("snapshot").mode("append").option(
        "statsCols", "o_orderkey"
    ).save(table_dir)
    scan = (
        spark.read.format("snapshot")
        .load(table_dir)
        .filter(F.col("o_orderkey") < 1000)
    )
    return scan.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


@register(
    "stream_snapshot_source",
    oracle="""
    SELECT event_type, run_no, count(*)::BIGINT AS n
    FROM (
      SELECT event_type, 1 AS run_no FROM events
      WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        AND event_id % 3 IN (0, 1)
      UNION ALL
      SELECT event_type, 2 AS run_no FROM events
      WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        AND event_id % 3 = 2
    )
    GROUP BY event_type, run_no
    """,
    doc="The snapshot table as a STREAMING source (spark.readStream."
    "format('snapshot')): offsets are snapshot versions and each "
    "micro-batch's input partitions are exactly the files that joined "
    "the manifest since the checkpointed version — the O(delta) "
    "manifest set difference, planned from kilobytes of driver-side "
    "metadata and read in executors. The query commits two event "
    "slices, drains the stream (run 1), appends a third slice, and "
    "drains AGAIN from the same checkpoint (run 2): the run_no column "
    "proves resume-from-offset delivery — run 2 carries ONLY the "
    "appended slice, nothing re-delivered (the at-most-once half of "
    "exactly-once; the foreachBatch parquet sink supplies the sink "
    "side). Non-append-only chains raise instead of re-delivering "
    "rewritten rows (pinned in tests/test_snapshot_datasource.py). The "
    "oracle restates which slice each run must deliver.",
)
def stream_snapshot_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = f"{SCRATCH_ROOT}/snap_ds_stream_{tag}"
    shutil.rmtree(root, ignore_errors=True)  # deterministic per call
    table_dir, ckpt, out = f"{root}/table", f"{root}/ckpt", f"{root}/out"
    snapshot_write(spark, table_dir, ev.filter(F.col("event_id") % 3 == 0))
    snapshot_append(spark, table_dir, ev.filter(F.col("event_id") % 3 == 1))

    def drain(run_no: int) -> None:
        q = (
            spark.readStream.format("snapshot")
            .load(table_dir)
            .writeStream.foreachBatch(
                lambda df, _id: df.withColumn("run_no", F.lit(run_no))
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain(1)
    snapshot_append(spark, table_dir, ev.filter(F.col("event_id") % 3 == 2))
    drain(2)
    return (
        spark.read.parquet(out)
        .groupBy("event_type", "run_no")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_snapshot_pipe",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n
    FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      AND event_id % 3 IN (0, 1)
    GROUP BY event_type
    """,
    doc="End-to-end exactly-once table-to-table streaming through the "
    "format API alone: spark.readStream.format('snapshot') on table A "
    "-> writeStream.format('snapshot') into table B. Each micro-batch "
    "lands in B as ONE atomic append commit (new files + carried-"
    "forward manifest + pointer swap) that also records the epoch id, "
    "so a replayed epoch (sink committed, checkpoint didn't) is "
    "detected against the current manifest and dropped — the public "
    "txnAppId/txnVersion idempotent-sink pattern upgrading Spark's "
    "at-least-once epoch delivery to exactly-once table state (replay "
    "protection pinned in tests/test_snapshot_datasource.py). The "
    "oracle states the net effect: B holds exactly A's rows.",
)
def stream_snapshot_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = f"{SCRATCH_ROOT}/snap_ds_pipe_{tag}"
    shutil.rmtree(root, ignore_errors=True)  # deterministic per call
    src, dst, ckpt = f"{root}/a", f"{root}/b", f"{root}/ckpt"
    snapshot_write(spark, src, ev.filter(F.col("event_id") % 3 == 0))
    snapshot_append(spark, src, ev.filter(F.col("event_id") % 3 == 1))
    q = (
        spark.readStream.format("snapshot")
        .load(src)
        .writeStream.format("snapshot")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(dst)
    )
    q.awaitTermination(300)
    return (
        snapshot_read(spark, dst)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "snapshot_zorder_optimize",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n
    FROM (SELECT event_type, user_id % 1024 AS x,
                 (extract('hour' FROM ts) * 60 + extract('minute' FROM ts)) // 2 AS y
          FROM events
          WHERE event_id IS NOT NULL AND user_id IS NOT NULL
            AND ts IS NOT NULL AND event_type IS NOT NULL)
    WHERE x BETWEEN 100 AND 227 AND y BETWEEN 60 AND 239
    GROUP BY event_type
    """,
    doc="OPTIMIZE ZORDER through the snapshot table: commit events in "
    "arrival layout, rewrite range-clustered on a 10x10-bit Morton "
    "interleave of (user bucket, halved minute-of-day) as a "
    "data_change=false commit with zone maps on BOTH dimensions, then "
    "read back through the snapshot DataSource with range predicates on "
    "x AND y — pushed filters prune files against the manifest's "
    "two-column zone maps at planning time, which only bites because "
    "the Morton curve bounds each file to a quadrant of the plane "
    "(clustering on one column alone leaves the other's per-file "
    "min/max spanning the domain). Streaming consumers skip the "
    "rewrite commit (same rows, new layout). Pruning effectiveness is "
    "pinned in tests/test_zorder_layout.py; the oracle states the "
    "filtered aggregate.",
)
def snapshot_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.plans.mining import _morton_sql
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write,
        snapshot_zorder,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    tbl = ev.select(
        "event_id",
        "event_type",
        (F.col("user_id") % 1024).alias("x"),
        F.expr("cast((hour(ts) * 60 + minute(ts)) div 2 AS bigint)").alias("y"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_zorder_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, tbl)
    snapshot_zorder(
        spark,
        table_dir,
        F.expr(_morton_sql("x", "y", "shiftright({v}, {i})")),
        target_files=8,
        stats_cols=["x", "y"],
    )
    scan = (
        spark.read.format("snapshot")
        .load(table_dir)
        .filter(F.col("x").between(100, 227) & F.col("y").between(60, 239))
    )
    return scan.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "snapshot_time_travel",
    oracle="""
    SELECT 1 AS version_read, event_id, event_type FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      AND event_id % 3 IN (0, 1)
    """,
    doc="Timestamp time travel through the format API: three commits build "
    "an events chain (base write + two appends), snapshot_history exposes "
    "each version's wall-clock commit time (one row per retained manifest, "
    "driver-side metadata only), and the read is spark.read.format("
    "'snapshot').option('timestampAsOf', <ISO-8601 of v1's commit>) — the "
    "DataSource resolves the newest version committed at or before that "
    "instant (sources/snapshot.py version_at_timestamp) and serves exactly "
    "v1's file set, so the post-v1 append is invisible. version_read pins "
    "the resolution itself (= 1), not just the row set; the interplay with "
    "retention is pinned separately in tests/test_snapshot_table.py "
    "(time travel to a vacuumed version raises, it never silently serves a "
    "newer one). At 100 TB this is the audit/repro primitive: a training "
    "run records one timestamp and re-reads byte-identical input forever "
    "after, at zero storage cost beyond retained manifests.",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from datetime import datetime

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_history,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_timetravel_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, ev.filter(F.col("event_id") % 3 == 0))
    snapshot_append(spark, table_dir, ev.filter(F.col("event_id") % 3 == 1))
    # committed_at is rounded to MILLISECONDS: if v2 committed inside
    # v1's same rounded ms, the midpoint probe below would resolve v2 —
    # a rare flake, not a pin. Guarantee strict separation by letting
    # the rounded clock tick past v1's commit before appending v2.
    import time

    v1_at = {
        r["version"]: r["committed_at"]
        for r in snapshot_history(spark, table_dir).collect()
    }[1]
    while round(time.time(), 3) <= v1_at:
        time.sleep(0.001)
    snapshot_append(spark, table_dir, ev.filter(F.col("event_id") % 3 == 2))
    # one 3-row metadata pull: the history table IS driver-side manifests.
    # The probe instant is the MIDPOINT of v1's and v2's commit times (ms
    # apart), not v1's instant itself — isoformat() truncates to
    # microseconds, and a truncated "exactly at v1" probe could land a
    # hair BEFORE the commit and resolve v0 (flaky off-by-one).
    hist = {
        r["version"]: r["committed_at"]
        for r in snapshot_history(spark, table_dir).collect()
    }
    assert hist[2] > hist[1], "commit clock must have advanced"
    as_of = datetime.fromtimestamp((hist[1] + hist[2]) / 2).isoformat()
    scan = (
        spark.read.format("snapshot")
        .option("timestampAsOf", as_of)
        .load(table_dir)
    )
    # pin WHICH version the resolver picks, not only its rows: an
    # instant between v1 and v2 must never serve v2's file set
    from petfinder_database_distributor_spark.sources.snapshot import (
        version_at_timestamp,
    )

    resolved = version_at_timestamp(
        table_dir, datetime.fromisoformat(as_of).timestamp()
    )
    return scan.select(
        F.lit(resolved).alias("version_read"), "event_id", "event_type"
    )


@register(
    "snapshot_concurrent_append",
    oracle="""
    SELECT 2 AS version_read, event_id, event_type FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
    """,
    doc="Multi-writer optimistic concurrency through the commit protocol: "
    "two appends race from two threads released by a barrier (same-table, "
    "same-instant — the worst case the flock+re-verify window exists "
    "for). Each writer stages data under its own unique directory, takes "
    "the metadata-only critical section, and the loser's pointer swap "
    "fails with SnapshotConflictError; snapshot_append_optimistic "
    "re-reads the fresh base and redoes the append, so BOTH batches land "
    "regardless of interleaving. Final state is deterministic: latest = "
    "v2 (base + two appends in either order) with the union of all three "
    "slices — which the oracle states as plain SQL over the source "
    "table. The deterministically-FORCED single-retry interleaving is "
    "pinned in tests/test_snapshot_table.py (a competing commit injected "
    "between a writer's base read and its swap). sources/snapshot.py:"
    "_commit_metadata / snapshot_append_optimistic.",
)
def snapshot_concurrent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import threading

    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version as snap_latest,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append_optimistic,
        snapshot_read,
        snapshot_write,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_concurrent_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, ev.filter(F.col("event_id") % 3 == 0))
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def writer(slice_df: DataFrame) -> None:
        try:
            barrier.wait(timeout=60)
            snapshot_append_optimistic(spark, table_dir, slice_df)
        except Exception as exc:  # surfaced to the caller below
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(ev.filter(F.col("event_id") % 3 == r),))
        for r in (1, 2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    final_v = snap_latest(table_dir)
    scan = snapshot_read(spark, table_dir, version=final_v)
    return scan.select(
        F.lit(final_v).alias("version_read"), "event_id", "event_type"
    )


@register(
    "snapshot_concurrent_merge",
    oracle="""
    WITH base AS (SELECT user_id, count(*)::BIGINT AS metric, 0 AS src_rank
                  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    a AS (SELECT user_id, count(*)::BIGINT AS metric, 1 AS src_rank
          FROM events WHERE user_id IS NOT NULL AND event_type = 'click'
          GROUP BY user_id),
    b AS (SELECT user_id, count(*)::BIGINT AS metric, 2 AS src_rank
          FROM events WHERE user_id IS NOT NULL AND event_type = 'view'
          GROUP BY user_id),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM a
          UNION ALL SELECT * FROM b)
    SELECT 2 AS version_read, user_id, metric, src_rank FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY src_rank DESC) AS rn FROM u)
    WHERE rn = 1
    """,
    doc="Multi-writer optimistic MERGE — the hazard concurrent appends "
    "never hit: two writers upserting OVERLAPPING keys (most users have "
    "both clicks and views) race from two barrier-released threads "
    "through snapshot_merge_optimistic. The loser's pointer swap fails "
    "with SnapshotConflictError and its retry RE-RUNS the merge from "
    "scratch — re-reading the now-current base, the winner's committed "
    "rows included, and re-applying the order-column winner rule "
    "against them (a blind re-swap of the stale staged result would "
    "lose the winner's rows for every shared key). Because the rule is "
    "a per-key max over a total order (src_rank), the final table is "
    "deterministic whichever thread wins: per-key max of "
    "(base ∪ A ∪ B), v2 either way — which the oracle states as plain "
    "SQL. The deterministically-forced conflict interleaving (retry "
    "observably re-reads the winner's row) is pinned in "
    "tests/test_snapshot_table.py. sources/snapshot.py::"
    "snapshot_merge_optimistic; reference analog: D2 upsert under "
    "server.py:299-307's concurrent reader/writer reality.",
)
def snapshot_concurrent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import threading

    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version as snap_latest,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge_optimistic,
        snapshot_read,
        snapshot_write,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("metric"), F.lit(0).alias("src_rank")
    )

    def writer_slice(event_type: str, rank: int) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("metric"), F.lit(rank).alias("src_rank"))
        )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_concurrent_merge_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, base)
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def merger(updates: DataFrame) -> None:
        try:
            barrier.wait(timeout=60)
            snapshot_merge_optimistic(
                spark, table_dir, updates, ["user_id"], ["src_rank"]
            )
        except Exception as exc:  # surfaced to the caller below
            errs.append(exc)

    threads = [
        threading.Thread(target=merger, args=(writer_slice(et, rk),))
        for et, rk in (("click", 1), ("view", 2))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    final_v = snap_latest(table_dir)
    scan = snapshot_read(spark, table_dir, version=final_v)
    return scan.select(
        F.lit(final_v).alias("version_read"), "user_id", "metric", "src_rank"
    )


@register(
    "snapshot_partitioned_source_scan",
    oracle="""
    SELECT user_id % 8 AS bucket, count(*)::BIGINT AS n,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM events
    WHERE user_id IS NOT NULL AND user_id % 8 IN (2, 5)
    GROUP BY user_id % 8
    """,
    doc="Partition pruning through the format API: a PARTITIONED snapshot "
    "(one bucket per immutable file, that value the file's zone map in the "
    "flat manifest, sources/snapshot.py snapshot_write_partitioned) read "
    "via spark.read.format('snapshot') with bucket IN (2,5). Spark 4.1's "
    "Python filter pushdown hands the In predicate to pushFilters, which "
    "tests its values against the files' zone maps at PLANNING time — "
    "files of the other six partitions never become input partitions "
    "(count pinned in tests/"
    "test_snapshot_datasource.py), no file listing, no footer I/O. The "
    "filter is also returned to Spark for exact re-apply, so manifest "
    "pruning only skips, never decides correctness. This is the "
    "DataSource twin of the library-path snapshot_read_partitioned "
    "(Iceberg-style metadata pruning at 100 TB: the scan starts from "
    "exactly the needed partitions' files).",
)
def snapshot_partitioned_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write_partitioned,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id", (F.col("user_id") % 8).alias("bucket"))
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_part_ds_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write_partitioned(spark, table_dir, ev, "bucket")
    scan = (
        spark.read.format("snapshot")
        .load(table_dir)
        .filter(F.col("bucket").isin(2, 5))
    )
    return scan.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "snapshot_restore",
    oracle="""
    SELECT 3 AS version_read, c_custkey AS k, c_name AS name
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_custkey % 3 = 0
    """,
    doc="RESTORE as roll-forward (sources/snapshot.py snapshot_restore — "
    "Delta RESTORE / Iceberg rollback shape): commit a base version, an "
    "upsert-merge that mangles names, and a tombstone delete, then "
    "restore to v0 — ONE manifest write pointing at v0's immutable "
    "files, no data copied (file-list identity pinned in tests/"
    "test_snapshot_table.py), bad versions retained for audit and still "
    "time-travelable. Reading LATEST afterwards must return exactly the "
    "base content; version_read pins that the restore is a NEW version "
    "(v3), not history rewritten. Non-vacuous by construction: without "
    "the restore, the latest state is the mangled+deleted one and the "
    "hash check fails. At 100 TB this is the recover-from-bad-pipeline "
    "primitive: undoing a poisoned commit costs kilobytes of metadata "
    "and zero I/O, and vacuum safety is inherited (the restore manifest "
    "re-pins the old files).",
)
def snapshot_restore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_restore,
        snapshot_write,
    )

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull() & (F.col("c_custkey") % 3 == 0)
    )
    base = cust.select(F.col("c_custkey").alias("k"), F.col("c_name").alias("name"))
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_restore_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, base)
    snapshot_merge(
        spark,
        table_dir,
        base.filter(F.col("k") % 2 == 0).withColumn(
            "name", F.concat(F.lit("zzz-mangled-"), F.col("name"))
        ),
        key_cols=["k"],
        order_cols=["name"],
    )
    snapshot_delete(
        spark, table_dir, base.filter(F.col("k") % 5 == 0).select("k"), ["k"]
    )
    v = snapshot_restore(table_dir, 0)
    return snapshot_read(spark, table_dir).select(
        F.lit(v).alias("version_read"), "k", "name"
    )


@register(
    "snapshot_point_lookup",
    oracle="""
    SELECT o_orderkey AS k, o_orderpriority AS priority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 32, 33)
    """,
    doc="Needle-in-the-table point lookup with BLOOM file skipping "
    "(sources/snapshot.py bloom sidecars — the Delta bloom-index / "
    "Iceberg puffin idea): orders land hash-scrambled across 8 files "
    "(repartition by key hash), which makes zone maps useless — every "
    "file's o_orderkey min/max spans the whole domain, so min/max "
    "pruning keeps all 8. The commit records a per-file bloom sidecar "
    "(~16 bits/row, k=4 -> fpp ~0.24%; manifest carries only the "
    "pointer, staying kilobytes at any file count) and the read is "
    "spark.read.format('snapshot') with an IN-list that Spark pushes "
    "to the source: files whose blooms can't contain any probe key "
    "never become input partitions (count pinned in tests/"
    "test_snapshot_datasource.py). Exactness is Spark's re-apply of "
    "the predicate — blooms only skip. At 100 TB this turns a k-key "
    "lookup from 'open every footer whose range spans the key' into "
    "O(k) file reads.",
)
def snapshot_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartition(8, "k")  # hash-scrambled: zone maps span everything
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/snap_bloom_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)  # deterministic per call
    snapshot_write(spark, table_dir, orders, bloom_cols=["k"], stats_cols=["k"])
    keys = [1, 2, 3, 4, 5, 6, 7, 32, 33]
    return (
        spark.read.format("snapshot")
        .load(table_dir)
        .filter(F.col("k").isin(keys))
    )


@register(
    "snapshot_clone_cow",
    oracle="""
    SELECT c_custkey AS k, c_name AS src_name,
           CASE WHEN c_custkey % 2 = 0 THEN 'z-' || c_name
                ELSE c_name END AS clone_name
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_custkey % 3 = 0
    """,
    doc="Zero-copy shallow clone with copy-on-write (sources/snapshot.py "
    "snapshot_clone — the Delta shallow-clone shape): the clone's v0 "
    "manifest points at the source's immutable files by absolute path "
    "(no bytes copied, O(metadata)), then an upsert-merge into the "
    "CLONE rewrites half the names — entirely into clone-owned files — "
    "while the source stays byte-identical. The query reads BOTH tables "
    "afterwards and emits (key, src_name, clone_name): a CoW leak into "
    "the source or a no-op clone merge each breaks the value hash. "
    "Clone vacuum can never reclaim source files (it only walks its own "
    "data dirs); the reverse caveat — source vacuum dangles clones past "
    "retention — is pinned in tests/test_snapshot_table.py. At 100 TB "
    "this is the experiment-branch primitive: fork a table for a "
    "pipeline trial at metadata cost, merge or drop the fork later.",
)
def snapshot_clone_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_clone,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isNotNull() & (F.col("c_custkey") % 3 == 0))
        .select(F.col("c_custkey").alias("k"), F.col("c_name").alias("name"))
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    src = f"{SCRATCH_ROOT}/snap_clone_src_{tag}"
    dst = f"{SCRATCH_ROOT}/snap_clone_dst_{tag}"
    shutil.rmtree(src, ignore_errors=True)  # deterministic per call
    shutil.rmtree(dst, ignore_errors=True)
    snapshot_write(spark, src, base)
    snapshot_clone(src, dst)
    snapshot_merge(
        spark,
        dst,
        base.filter(F.col("k") % 2 == 0).withColumn(
            "name", F.concat(F.lit("z-"), F.col("name"))
        ),
        key_cols=["k"],
        order_cols=["name"],
    )
    src_now = snapshot_read(spark, src).select(
        "k", F.col("name").alias("src_name")
    )
    clone_now = snapshot_read(spark, dst).select(
        "k", F.col("name").alias("clone_name")
    )
    return src_now.join(clone_now, "k")


# ---------------------------------------------------------------------------
# snapshot_vacuum_retention
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id IS NOT NULL
      AND (doc_id % 3 <> 0 OR doc_id % 2 = 0)
"""


@register("snapshot_vacuum_retention", oracle=_VACUUM_ORACLE)
def snapshot_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-retention vacuum as a driver-facing query — the lakehouse
    GC step (Delta VACUUM / Iceberg expire_snapshots) that completes the
    snapshot table's lifecycle: three committed versions (full write ->
    filtered overwrite -> append), then ``snapshot_vacuum(keep_last=2)``
    reclaims v0's now-unreferenced files while provably NOT touching any
    file a retained manifest references. The returned frame is the
    post-vacuum LATEST content; the oracle recomputes it from the source
    table, so hash parity proves vacuum is content-neutral — it deletes
    storage, never state. The sibling invariants (expired time-travel
    RAISES instead of serving a ghost; retained versions stay readable;
    the reclaimed file count is exactly v0's unreferenced set) are
    pinned in tests/test_corpus_ops.py, which also asserts real file
    deletion happened. At 100 TB vacuum is a driver-side manifest walk
    plus unlink calls — zero Spark jobs, O(files in expired versions) —
    and without it every full rewrite doubles storage forever."""
    import shutil

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.streaming.incremental import (
        SCRATCH_ROOT,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    ).select("doc_id", "source", "n_chars")
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    table = f"{SCRATCH_ROOT}/vacuum_retention/{tag}"
    shutil.rmtree(table, ignore_errors=True)  # deterministic per call
    # v0: full corpus; v1: overwrite to the %3 != 0 subset (v0's files
    # become unreferenced once v0 expires); v2: append the %3 = 0 half
    # of the evens back
    snapshot_write(spark, table, docs)
    snapshot_write(
        spark, table, docs.filter(F.col("doc_id") % 3 != 0), base_version=0
    )
    snapshot_append(
        spark,
        table,
        docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 0)),
    )
    snapshot_vacuum(table, keep_last=2)
    return snapshot_read(spark, table)
