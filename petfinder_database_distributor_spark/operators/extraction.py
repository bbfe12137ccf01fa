"""Document → relational extraction operators (SURVEY.md §2.2, P1–P3 + G2).

The reference projects semi-structured documents (HTML) into columns via 14
absolute XPath expressions (pet_scraper.py:97-112) and fans each search page
out into ≤12 link rows (link_scraper.py:100-113). Spark-first restatement:
the built-in ``xpath_string`` / ``xpath`` SQL functions (JVM-side, no Python
UDF) over XML documents; one ``posexplode`` per page for the link fan-out;
and, for genuinely malformed real-world HTML that ``xpath_string`` rejects,
an Arrow-batched streaming extractor on the stdlib tolerant tokenizer
(:func:`html_first_text_columns`).

Live HTML fetching (S1/S2) is non-deterministic and out of correctness scope
(SURVEY.md §7.3.6); see :mod:`..sources.fetch` for the fetch-UDF shape.

Scale: all operators here are narrow per-row projections — no shuffle; they
pipeline inside the scan stage at any data size.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Mapping
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from petfinder_database_distributor_spark.functions.scalars import sql_name


def xpath_columns(
    df: DataFrame,
    xml_col: str,
    xpaths: Mapping[str, str],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """P1/P2 — project one column per XPath, first match, '' on miss
    (the reference's ``get_text`` contract, pet_scraper.py:135-161)."""
    cols: list[Column] = [F.col(c) for c in keep]
    for alias, xp in xpaths.items():
        cols.append(F.xpath_string(F.col(xml_col), F.lit(xp)).alias(alias))
    return df.select(*cols)


def explode_links(
    df: DataFrame,
    xml_col: str,
    href_xpath: str,
    keep: tuple[str, ...] = (),
    slot_col: str = "slot",
    href_col: str = "href",
) -> DataFrame:
    """P3/G2 — one row per extracted href, slot-numbered (1-based like the
    reference's 12 fixed XPath slots, link_scraper.py:100-113); empty slots
    dropped after position assignment (link_scraper.py:115-145 skips
    empties)."""
    exploded = df.select(
        *[F.col(c) for c in keep],
        F.posexplode(F.xpath(F.col(xml_col), F.lit(href_xpath))).alias("__pos", href_col),
    )
    return (
        exploded.filter(F.length(F.col(href_col)) > 0)
        .withColumn(slot_col, F.col("__pos") + 1)
        .drop("__pos")
    )


def explode_links_fast(
    df: DataFrame,
    xml_col: str,
    keep: tuple[str, ...] = (),
    slot_col: str = "slot",
    href_col: str = "href",
    href_pattern: str = r'<a href="([^"]*)"',
) -> DataFrame:
    """P3/G2 fast path — identical contract to :func:`explode_links` (every
    ``<a href>`` in document order, 1-based slot numbers assigned BEFORE
    empty slots are dropped) but via ONE ``regexp_extract_all`` pass per
    document instead of a per-row XPath DOM parse. The ``[^"]*`` capture
    keeps empty hrefs in the array so slot positions match the DOM walk
    exactly. ~1 ms/doc DOM cost drops to a linear regex scan; use this in
    hot paths, keep the xpath variant where arbitrary XPath is the point.

    Restriction vs xpath: matches ``<a href="...">`` anywhere in the
    document (no path anchoring) — equivalent whenever links live at one
    level, as in the reference's search pages (link_scraper.py:100-113)."""
    hrefs = F.regexp_extract_all(F.col(xml_col), F.lit(href_pattern), F.lit(1))
    exploded = df.select(
        *[F.col(c) for c in keep],
        F.posexplode(hrefs).alias("__pos", href_col),
    )
    return (
        exploded.filter(F.length(F.col(href_col)) > 0)
        .withColumn(slot_col, F.col("__pos") + 1)
        .drop("__pos")
    )


# Elements that never take content (HTML5 void elements) — never pushed.
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)
# Block-level starts that imply `</p>` for an open <p> (HTML5 §13.2.6;
# browsers auto-close — a tolerant extractor must too, or an unclosed
# <p class=age>Adult would swallow every sibling's text).
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset footer form h1 h2 h3 "
    "h4 h5 h6 header hr li ol p pre section table ul".split()
)


def _parse_selector(sel: str) -> list[tuple[str | None, frozenset[str], str | None]]:
    """Parse a descendant-selector chain: ``'div.info h2.pet-name'`` →
    one (tag, classes, id) triple per whitespace-separated compound part.
    Supported compound syntax: ``tag``, ``.class``, ``#id`` in any
    combination (the subset the reference's 14 absolute XPaths actually
    use, restated CSS-style)."""
    chain = []
    for part in sel.split():
        tag: str | None = None
        classes: set[str] = set()
        el_id: str | None = None
        for prefix, name in re.findall(r"([#.]?)([\w-]+)", part):
            if prefix == ".":
                classes.add(name)
            elif prefix == "#":
                el_id = name
            else:
                tag = name.lower()
        chain.append((tag, frozenset(classes), el_id))
    return chain


class _FirstMatchExtractor(HTMLParser):
    """One streaming pass over ONE document evaluating ALL selector chains:
    the first element matching a chain has its subtree text captured
    (whitespace-normalized); later matches are ignored — the reference's
    first-match-or-'' ``get_text`` contract (pet_scraper.py:135-161).

    Tolerance (the reason this exists next to ``xpath_string``):
    - unclosed ``<p>``/``<li>`` get HTML5 implied end tags;
    - stray end tags with no open element are ignored; mis-nested end tags
      pop to the nearest matching open tag;
    - tag/attribute case, unquoted attribute values, and character entities
      are handled by the stdlib tokenizer (``convert_charrefs=True``).

    No DOM is built — state is one open-element stack — so memory is
    O(depth), not O(document), and the pass is single-scan.
    """

    def __init__(self, chains: list[list[tuple]]) -> None:
        super().__init__(convert_charrefs=True)
        self.chains = chains
        self.stack: list[tuple[str, frozenset, str | None]] = []
        self.result: list[str | None] = [None] * len(chains)
        self.active: dict[int, int] = {}  # chain idx -> stack depth of match
        self.parts: list[list[str]] = [[] for _ in chains]

    @staticmethod
    def _part_matches(part: tuple, frame: tuple) -> bool:
        tag, classes, el_id = part
        ftag, fclasses, fid = frame
        return (
            (tag is None or tag == ftag)
            and classes <= fclasses
            and (el_id is None or el_id == fid)
        )

    def _chain_matches(self, chain: list[tuple]) -> bool:
        # Last part must match the just-pushed top; earlier parts match
        # ancestors in order (descendant semantics).
        if not self._part_matches(chain[-1], self.stack[-1]):
            return False
        ci, si = len(chain) - 2, len(self.stack) - 2
        while ci >= 0 and si >= 0:
            if self._part_matches(chain[ci], self.stack[si]):
                ci -= 1
            si -= 1
        return ci < 0

    def _pop(self) -> None:
        depth = len(self.stack)
        self.stack.pop()
        for idx, d in list(self.active.items()):
            if depth <= d:  # the matched element itself just closed
                self.result[idx] = " ".join("".join(self.parts[idx]).split())
                del self.active[idx]

    def _implied_ends(self, tag: str) -> None:
        while self.stack:
            top = self.stack[-1][0]
            if (top == "p" and tag in _P_CLOSERS) or (top == "li" and tag == "li"):
                self._pop()
            else:
                break

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID_TAGS:
            return
        self._implied_ends(tag)
        ad: dict[str, str] = {}
        for k, v in attrs:
            ad.setdefault(k, v or "")
        self.stack.append(
            (tag, frozenset((ad.get("class") or "").split()), ad.get("id"))
        )
        for idx, chain in enumerate(self.chains):
            if (
                self.result[idx] is None
                and idx not in self.active
                and self._chain_matches(chain)
            ):
                self.active[idx] = len(self.stack)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return
        if any(frame[0] == tag for frame in self.stack):
            while self.stack and self.stack[-1][0] != tag:
                self._pop()
            self._pop()
        # else: stray close with no open element — ignored

    def handle_data(self, data: str) -> None:
        for idx in self.active:
            self.parts[idx].append(data)

    def finalize(self) -> list[str]:
        while self.stack:  # unclosed elements at EOF close implicitly
            self._pop()
        return ["" if r is None else r for r in self.result]


def html_first_text_columns(
    df: DataFrame,
    html_col: str,
    selectors: Mapping[str, str],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """P1 over REAL (malformed) HTML — project one column per CSS-style
    descendant selector, first match's normalized subtree text, '' on miss:
    the reference evaluates its XPaths against browser-rendered DOMs
    (pet_scraper.py:97-112, :135-188), which forgive unclosed tags, case,
    and entities the way ``xpath_string``'s strict XML parser cannot.

    Arrow-batched pandas UDF (stdlib ``html.parser`` — the container has no
    lxml/selectolax; the tolerant tokenizer is pure-Python but the batch
    loop, like the reference's per-page DOM walk, is embarrassingly
    per-row). ALL selectors are evaluated in ONE streaming pass per
    document with O(depth) state — no DOM materialization, so a 100 MB
    page costs memory proportional to nesting, not size."""
    aliases = list(selectors)
    chains = [_parse_selector(selectors[a]) for a in aliases]
    out_type = T.StructType([T.StructField(a, T.StringType()) for a in aliases])

    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            rows = []
            for html in s:
                if not isinstance(html, str):
                    rows.append([""] * len(aliases))
                    continue
                p = _FirstMatchExtractor(chains)
                try:
                    p.feed(html)
                    p.close()
                except Exception:
                    pass  # T7 posture: salvage what matched before the error
                rows.append(p.finalize())
            yield pd.DataFrame(rows, columns=aliases)

    udf = F.pandas_udf(extract, out_type)
    ext = df.select(*[F.col(c) for c in keep], udf(F.col(html_col)).alias("__ext"))
    return ext.select(
        *[F.col(c) for c in keep],
        *[F.col(f"__ext.{a}").alias(a) for a in aliases],
    )


def regex_field_columns(
    df: DataFrame,
    xml_col: str,
    fields: Mapping[str, str],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """P1 fast path — first-match leaf-tag text via one JVM
    ``regexp_extract`` per column: for flat documents (no nested or
    attributed tags of the same name) this is exactly ``xpath_string``'s
    first-match-or-'' contract (pet_scraper.py:135-161) without the DOM
    parse. ``fields`` maps alias → tag name.

    The projection is one ``selectExpr`` over SQL strings: one Py4J round
    trip per column instead of the lookups and calls behind ``F.col``,
    ``F.regexp_extract`` and ``alias``. An XML tag name holds no quote or
    backslash, so the pattern is a plain SQL string literal."""
    src = sql_name(xml_col)
    exprs = [sql_name(c) for c in keep]
    for alias, tag in fields.items():
        exprs.append(f"regexp_extract({src}, '<{tag}>([^<]*)</{tag}>', 1) AS {sql_name(alias)}")
    return df.selectExpr(*exprs)
