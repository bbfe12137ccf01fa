"""Scalar functions X1–X9 as native Spark Column expressions.

Each factory replicates one reference scalar exactly (file:line cited per
function) so the DuckDB oracle can assert value-identical results. None of
these are UDFs — they are Catalyst expressions, codegen'd and vectorized.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

# parse_boolean indicator lists, reference pet_scraper.py:227-228.
# Negatives are checked FIRST (pet_scraper.py:230-235): any negative
# substring wins over any positive. Note the bare "n"/"y" — substring
# semantics mean e.g. "on" and "unknown" parse False; replicated faithfully.
NEGATIVE_INDICATORS = ["no", "false", "✗", "unchecked", "n"]
POSITIVE_INDICATORS = ["yes", "true", "✓", "check", "checked", "y"]
# The negatives that decide the parse: a needle containing another needle
# ("no" and "unchecked" both contain "n") can only match where the shorter
# one already does, so it adds nothing. Derived, not restated, so the
# reference lists above stay the single source.
_NEGATIVE_NEEDLES = [
    n for n in NEGATIVE_INDICATORS if not any(m != n and m in n for m in NEGATIVE_INDICATORS)
]


def sql_name(name: str) -> str:
    """Backtick-quote a column name for a SQL expression (an embedded
    backtick is doubled); the name is one literal column, never a nested
    field path."""
    return "`" + name.replace("`", "``") + "`"


def clean_text(c: Column) -> Column:
    """X1 — strip whitespace, drop trailing ``*`` footnote markers, re-strip;
    null/empty → ''.  Reference: pet_scraper.py:125-132."""
    cleaned = F.trim(F.regexp_replace(F.trim(c), r"\*+$", ""))
    return F.coalesce(cleaned, F.lit(""))


def parse_boolean(c: Column, empty_as_null: bool = True) -> Column:
    """X2 — the reference's quirky substring boolean parse.

    Reference: pet_scraper.py:221-238 (lowercase+trim; any NEGATIVE substring
    → False, else any POSITIVE substring → True, else True iff non-empty) and
    its call sites pet_scraper.py:305-322 which map empty/missing source text
    to None (tri-state). ``empty_as_null=False`` gives the raw function
    semantics (empty → False).

    For non-empty ``t`` the built expression is the equivalent
    ``NOT contains_any(t, {"false", "✗", "n"})``. The positive branch
    cannot change the result: a non-empty value with no indicator is True
    as well. Of the negatives, "no" and "unchecked" contain "n", so they
    match only where "n" does (``_NEGATIVE_NEEDLES``). Three ``contains``
    tests instead of eleven, built with Column methods rather than ``F.*``
    calls, keep building the expression at a few dozen Py4J round trips.
    """
    t = F.lower(F.trim(c))
    negative = t.contains(_NEGATIVE_NEEDLES[0])
    for n in _NEGATIVE_NEEDLES[1:]:
        negative = negative | t.contains(n)
    empty = c.isNull() | (t == "")
    return F.when(empty, None if empty_as_null else False).when(negative, False).otherwise(True)


def extract_name_from_about(c: Column) -> Column:
    """X3 — strip a leading case-insensitive ``About`` prefix (exactly 5
    chars, no word-boundary check) then strip whitespace; null → ''.
    Reference: pet_scraper.py:241-249."""
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(
        F.lower(t).startswith("about"), F.trim(t.substr(6, 2147483647))
    ).otherwise(t)


def escape_newlines(c: Column) -> Column:
    """X4 — LF then CR → literal two-char ``\\n`` so a row serializes to one
    CSV line (export-sink transform). Sequential, matching the reference's
    ``.replace("\\n","\\\\n").replace("\\r","\\\\n")`` — a CRLF therefore
    becomes TWO escape sequences. Reference: pet_scraper.py:416-417."""
    return F.regexp_replace(F.regexp_replace(c, r"\n", r"\\n"), r"\r", r"\\n")


def bool_to_string(c: Column) -> Column:
    """X5 — tri-state boolean → ``'True'/'False'/''`` (CSV export encoding).
    Reference: pet_scraper.py:440-443, :461-465."""
    return F.when(c.isNull(), F.lit("")).when(c, F.lit("True")).otherwise(F.lit("False"))


def normalize_url(c: Column, base: str = "https://www.petfinder.com") -> Column:
    """X6 — relative href → absolute URL. Reference: link_scraper.py:136-138."""
    return F.when(c.startswith("/"), F.concat(F.lit(base), c)).otherwise(c)


def search_url(pet_type: Column, page: Column) -> Column:
    """X7 — search-page URL template. Reference: server.py:185."""
    return F.format_string(
        "https://www.petfinder.com/search/%ss-for-adoption/us/?page=%d",
        pet_type,
        page.cast("int"),
    )


def timestamp_fmt(c: Column | None = None) -> Column:
    """X8 — ``%Y-%m-%d %H:%M:%S`` timestamp format. Reference: pet_scraper.py:117."""
    return F.date_format(c if c is not None else F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


def failed_field_count(
    string_cols: Iterable[str], bool_cols: Iterable[str] = ()
) -> Column:
    """X9 / A3 — horizontal fold counting missing fields across a row
    (pet_scraper.py:550-566 and the validity filter's counter :387-401).
    Used by the ≥50 %-null validity filter (F2) and the <3-failed liveness
    rule (F3). A field is missing per the reference's test
    (pet_scraper.py:393-399): None is missing; an empty or whitespace
    string is missing; boolean False is PRESENT (tri-state fidelity — only
    null counts for boolean fields).

    The fold is one ``F.expr`` over the backtick-quoted names: three Py4J
    round trips however many fields, where folding Columns took about
    1,050 for the ingest path's 15. The analyzed expression is the one
    that fold gave, ``0 + CASE WHEN … END + …``."""
    terms = ["0"]
    for c in string_cols:
        q = sql_name(c)
        terms.append(f"CASE WHEN {q} IS NULL OR trim({q}) = '' THEN 1 ELSE 0 END")
    for c in bool_cols:
        terms.append(f"CASE WHEN {sql_name(c)} IS NULL THEN 1 ELSE 0 END")
    return F.expr(" + ".join(terms))


# URL canonicalization (X6 generalized to the crawl-scale dedup key): two
# raw URLs that differ only in scheme/host case, an explicit default port,
# a fragment, tracking parameters, or query-parameter ORDER are the same
# resource — at 100 TB of crawl data the canonical form IS the dedup/
# frontier key. Everything below is native expressions (filter/sort over
# a split array), so the canonicalizer runs inside codegen and the DuckDB
# oracle can restate it operator-for-operator.
_URL_AUTH_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("fbclid", "gclid")


def canonicalize_url(c: Column) -> Column:
    """Canonical URL: drop the fragment, lowercase scheme+authority, strip
    the scheme-default port (:80 http / :443 https), drop tracking params
    (utm_*, fbclid, gclid), sort the surviving query params bytewise, and
    reassemble. NULL in → NULL out."""
    no_frag = F.substring_index(c, "#", 1)
    auth = F.lower(F.regexp_extract(no_frag, _URL_AUTH_RE, 1))
    auth = F.when(
        auth.startswith("http://") & auth.endswith(":80"),
        F.substring(auth, 1, F.length(auth) - 3),
    ).when(
        auth.startswith("https://") & auth.endswith(":443"),
        F.substring(auth, 1, F.length(auth) - 4),
    ).otherwise(auth)
    path = F.regexp_extract(no_frag, _URL_PATH_RE, 1)
    # after the FIRST '?' (instr), matching the oracle's regex — a later
    # '?' inside a query value must stay part of the query string
    q = F.when(
        no_frag.contains("?"),
        F.substring(no_frag, F.instr(no_frag, "?") + 1, F.lit(2147483647)),
    ).otherwise(F.lit(""))

    def keep(p: Column) -> Column:
        cond = (p != "")
        for pref in TRACKING_PARAM_PREFIXES:
            cond = cond & ~p.startswith(pref)
        for name in TRACKING_PARAMS:
            cond = cond & ~p.startswith(name + "=") & (p != name)
        return cond

    params = F.array_sort(F.filter(F.split(q, "&"), keep))
    qs = F.concat_ws("&", params)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(
            auth, path, F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
        )
    )


# DuckDB twin of canonicalize_url — oracle fragments substitute {x}. Kept
# adjacent so the two restatements evolve in lockstep (MD5INT_SQL
# precedent). list_filter/list_sort mirror F.filter/F.array_sort; RE2 and
# Java agree on these character-class-only patterns.
CANONICAL_URL_SQL = (
    "CASE WHEN {x} IS NULL THEN NULL ELSE "
    "concat("
    " CASE"
    "  WHEN starts_with(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)), 'http://')"
    "   AND lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) LIKE '%:80'"
    "  THEN left(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),"
    "       length(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))) - 3)"
    "  WHEN starts_with(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)), 'https://')"
    "   AND lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) LIKE '%:443'"
    "  THEN left(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),"
    "       length(lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))) - 4)"
    "  ELSE lower(regexp_extract(split_part({x}, '#', 1),"
    "        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) END,"
    " regexp_extract(split_part({x}, '#', 1),"
    "   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),"
    " CASE WHEN array_to_string(list_sort(list_filter(string_split("
    "   CASE WHEN contains(split_part({x}, '#', 1), '?')"
    "        THEN regexp_extract(split_part({x}, '#', 1), '\\?(.*)$', 1)"
    "        ELSE '' END, '&'),"
    "   p -> p <> '' AND NOT starts_with(p, 'utm_')"
    "        AND NOT starts_with(p, 'fbclid=') AND p <> 'fbclid'"
    "        AND NOT starts_with(p, 'gclid=') AND p <> 'gclid')), '&') <> ''"
    "  THEN '?' || array_to_string(list_sort(list_filter(string_split("
    "   CASE WHEN contains(split_part({x}, '#', 1), '?')"
    "        THEN regexp_extract(split_part({x}, '#', 1), '\\?(.*)$', 1)"
    "        ELSE '' END, '&'),"
    "   p -> p <> '' AND NOT starts_with(p, 'utm_')"
    "        AND NOT starts_with(p, 'fbclid=') AND p <> 'fbclid'"
    "        AND NOT starts_with(p, 'gclid=') AND p <> 'gclid')), '&')"
    "  ELSE '' END"
    ") END"
)
