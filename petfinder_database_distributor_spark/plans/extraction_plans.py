"""P1–P3 + G2 extraction queries: synthesize deterministic XML "pages" from
the customer table (live HTML is out of correctness scope), then extract
columns and link rows via the native xpath functions.

The DuckDB oracle states the expected OUTPUT directly from the same
derivations — the Spark side must reproduce it through the full
build-XML → xpath-project → clean → explode pipeline, so the extraction
path itself is what's being checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import (
    clean_text,
    extract_name_from_about,
    normalize_url,
)
from petfinder_database_distributor_spark.operators.extraction import (
    explode_links,
    explode_links_fast,
    xpath_columns,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.util import ensure_parallelism


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic XML page per customer: a <pet> block (name carries the
    'About {name}' prefix and a trailing footnote '*', like real extractions)
    plus 12 href slots, slot i empty when (c_custkey + i) % 3 == 0.

    The scan is repartitioned to cluster parallelism because everything
    downstream (xpath DOM parsing per row) is CPU-bound and narrow."""
    cust = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    links = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda i: F.when(
                (F.col("c_custkey") + i) % 3 != 0,
                F.concat(
                    F.lit('<a href="/pet/'),
                    (F.col("c_custkey") * 12 + i).cast("string"),
                    F.lit('/details/"/>'),
                ),
            ).otherwise(F.lit('<a href=""/>')),
        ),
    )
    img = F.when(
        F.col("c_custkey") % 7 == 0, F.lit('<img src=""/>')
    ).otherwise(
        F.concat(
            F.lit('<img src="https://images.example/'),
            F.col("c_custkey").cast("string"),
            F.lit('.jpg"/>'),
        )
    )
    xml = F.concat(
        F.lit("<page><pet><name>About "),
        F.col("c_name"),
        F.lit("*</name><segment>"),
        F.col("c_mktsegment"),
        F.lit("</segment>"),
        img,
        F.lit("</pet>"),
        links,
        F.lit("</page>"),
    )
    return cust.select(F.col("c_custkey").alias("page_id"), xml.alias("xml"))


@register(
    "p1_xpath_project",
    oracle="""
    SELECT c_custkey AS page_id,
           c_name AS name,
           c_mktsegment AS segment
    FROM customer
    """,
    doc="P1 XPath column projection + X1/X3 cleaning: XML page → (name, segment) columns (pet_scraper.py:97-161)",
)
def p1_xpath_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _pages(spark, sf_dir)
    projected = xpath_columns(
        pages,
        "xml",
        {"raw_name": "/page/pet/name/text()", "segment": "/page/pet/segment/text()"},
        keep=("page_id",),
    )
    # clean_text strips the trailing footnote '*'; extract_name_from_about
    # strips the 'About ' prefix — the same post-extraction stack the
    # reference applies (pet_scraper.py:293-332).
    return projected.select(
        "page_id",
        extract_name_from_about(clean_text(F.col("raw_name"))).alias("name"),
        "segment",
    )


@register(
    "p3_link_fanout",
    oracle="""
    SELECT c.c_custkey AS page_id, s.i AS slot,
           'https://www.petfinder.com/pet/' || (c.c_custkey * 12 + s.i) || '/details/' AS url
    FROM customer c, generate_series(1, 12) s(i)
    WHERE (c.c_custkey + s.i) % 3 <> 0
    """,
    doc="P3+G2+X6 link fan-out: page → ≤12 href slots → explode → skip empties → absolutize (link_scraper.py:66-152); JVM-regex fast path (slot semantics identical to the xpath variant below)",
)
def p3_link_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _pages(spark, sf_dir)
    links = explode_links_fast(pages, "xml", keep=("page_id",))
    return links.select(
        "page_id", F.col("slot").cast("long").alias("slot"), normalize_url(F.col("href")).alias("url")
    )


@register(
    "p3_link_fanout_xpath",
    oracle="""
    SELECT c.c_custkey AS page_id, s.i AS slot,
           'https://www.petfinder.com/pet/' || (c.c_custkey * 12 + s.i) || '/details/' AS url
    FROM customer c, generate_series(1, 12) s(i)
    WHERE (c.c_custkey + s.i) % 3 <> 0
    """,
    doc="P3 xpath-semantics variant: same contract as p3_link_fanout through a real "
    "per-row XPath DOM walk (/page/a/@href) — kept registered so the xpath slot "
    "behavior (link_scraper.py:100-113) stays value-checked; the regex fast path "
    "is the hot-path default",
)
def p3_link_fanout_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _pages(spark, sf_dir)
    links = explode_links(pages, "xml", "/page/a/@href", keep=("page_id",))
    return links.select(
        "page_id", F.col("slot").cast("long").alias("slot"), normalize_url(F.col("href")).alias("url")
    )


@register(
    "p2_src_attr_project",
    oracle="""
    SELECT c_custkey AS page_id,
           CASE WHEN c_custkey % 7 = 0 THEN ''
                ELSE 'https://images.example/' || c_custkey || '.jpg' END AS image
    FROM customer
    """,
    doc="P2 XPath ATTRIBUTE projection: /page/pet/img/@src through the generic "
    "xpath_columns path — the image-url slot of the reference's 14 XPaths "
    "(pet_scraper.py:164-188); '' on empty/missing attribute (get_text contract)",
)
def p2_src_attr_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _pages(spark, sf_dir)
    return xpath_columns(
        pages, "xml", {"image": "/page/pet/img/@src"}, keep=("page_id",)
    )


def _malformed_pet_html(doc_id: F.Column) -> F.Column:
    """Deterministic MALFORMED pet page per doc key, exercising what real
    browser-rendered HTML throws at an extractor (reference
    pet_scraper.py:135-161 runs against live DOMs): uppercase tags and
    attribute names, unquoted attribute values, character entities, an
    unclosed <p>, unclosed <li>s, a decoy element matching the leaf
    selector but not the ancestor chain, a duplicate later match
    (first-match must win), an unclosed outer div, a stray close tag, and
    a field (#loc) missing entirely for doc_id % 11 == 0 ('' contract)."""
    age = F.element_at(
        F.array(F.lit("Adult"), F.lit("Young"), F.lit("Senior")),
        (doc_id % 3 + 1).cast("int"),
    )
    breed = F.element_at(
        F.array(F.lit("Labrador"), F.lit("Beagle"), F.lit("Terrier"), F.lit("Husky")),
        (doc_id % 4 + 1).cast("int"),
    )
    city = F.element_at(
        F.array(
            F.lit("Austin"), F.lit("Boston"), F.lit("Chicago"),
            F.lit("Denver"), F.lit("El  Paso"),
        ),
        (doc_id % 5 + 1).cast("int"),
    )
    loc_span = F.when(doc_id % 11 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<span id=loc> "), city, F.lit(" </span>"))
    )
    return F.format_string(
        "<HTML><Body CLASS=page>"
        '<div class="header"><h2 class="pet-name">Shelter Banner</h2></div>'
        '<DIV Class="info card">'
        '<H2 class="pet-name"> Rex &amp;  Pal %s </H2>'
        "<p class=age>%s"  # unclosed <p>: implied end at the <ul>
        "<ul><li>%s<li>mixed</ul>"  # unclosed <li>s: implied end at next <li>
        "%s"
        "</footer>"  # stray close: no open <footer> — must be ignored
        # outer info div left unclosed: EOF/body-close must finalize it
        '<div class="info"><h2 class="pet-name">Duplicate</h2></div>'
        "</Body></HTML>",
        doc_id.cast("string"),
        age,
        breed,
        loc_span,
    )


@register(
    "p1_html_project",
    oracle="""
    SELECT doc_id,
           'Rex & Pal ' || doc_id AS name,
           CASE doc_id % 3 WHEN 0 THEN 'Adult' WHEN 1 THEN 'Young'
                ELSE 'Senior' END AS age,
           CASE doc_id % 4 WHEN 0 THEN 'Labrador' WHEN 1 THEN 'Beagle'
                WHEN 2 THEN 'Terrier' ELSE 'Husky' END AS breed,
           CASE WHEN doc_id % 11 = 0 THEN ''
                ELSE CASE doc_id % 5 WHEN 0 THEN 'Austin' WHEN 1 THEN 'Boston'
                     WHEN 2 THEN 'Chicago' WHEN 3 THEN 'Denver'
                     ELSE 'El Paso' END END AS location
    FROM documents
    """,
    doc="P1 over REAL malformed HTML: build a deliberately broken page per "
    "document (unclosed/misnested tags, case soup, entities, unquoted "
    "attrs, decoy + duplicate matches, missing field) and recover the "
    "reference's first-match-or-'' field contract (pet_scraper.py:135-161) "
    "through the streaming html.parser Arrow UDF — whitespace-normalized "
    "('Rex &amp;__Pal' collapses, 'El  Paso' -> 'El Paso'), where the "
    "other S1/P1 queries see only well-formed pages",
)
def p1_html_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.extraction import (
        html_first_text_columns,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pages = docs.select(
        "doc_id", _malformed_pet_html(F.col("doc_id")).alias("html")
    )
    return html_first_text_columns(
        pages,
        "html",
        {
            "name": "div.info h2.pet-name",
            "age": "div.info p.age",
            "breed": "ul li",
            "location": "#loc",
        },
        keep=("doc_id",),
    )


@register(
    "ingest_frontend",
    oracle="""
    WITH extracted AS (
      SELECT c.c_custkey AS page_id,
             'https://www.petfinder.com/pet/' || (c.c_custkey * 12 + s.i) || '/details/' AS url,
             (c.c_custkey * 12 + s.i) AS pet_key
      FROM customer c, generate_series(1, 12) s(i)
      WHERE (c.c_custkey + s.i) % 3 <> 0
    ),
    deduped AS (
      SELECT * FROM extracted
      QUALIFY row_number() OVER (PARTITION BY url ORDER BY page_id) = 1
    )
    SELECT d.url, d.page_id
    FROM deduped d
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = d.pet_key)
    """,
    doc="Ingestion front-end composed: enumerate → fan-out (G2) → key-dedup (D1) → anti-join existing (F4) BEFORE any expensive fetch (O1 plan shape, server.py:189-207)",
)
def ingest_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.dedup import (
        anti_join_new_keys,
        key_dedup,
    )

    pages = _pages(spark, sf_dir)
    links = explode_links_fast(pages, "xml", keep=("page_id",))
    links = links.select(
        "page_id",
        normalize_url(F.col("href")).alias("url"),
        (F.col("page_id") * 12 + F.col("slot")).alias("pet_key"),
    )
    deduped = key_dedup(links, ["url"], [F.col("page_id")])
    existing = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pet_key")
    )
    fresh = anti_join_new_keys(deduped, existing, ["pet_key"])
    return fresh.select("url", "page_id")
