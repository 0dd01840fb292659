"""HTML→text extraction query: the north-rule byte-identity invariant.

The input table's `html: binary` column is the raw capture; `text` is the
extracted text every downstream stage consumes. This query runs the real
extraction expression chain (functions/extract.py — head/script/style
removal, tag strip, entity decode, all JVM-side) against an
independently-constructed HTML document and returns the extracted text, so
the DuckDB twin (RE2 running the byte-identical pattern set) pins the
extraction semantics cross-engine. tests/test_extract.py additionally
asserts extracted == text byte-for-byte over the pages source's real
`html` column — the executable form of "byte-identical extracted text per
url".

The constructed HTML exercises every rule: a <head> with <title> and
<style> (dropped whole), a <script> inside <body> (dropped whole), an
entity-bearing paragraph (&amp;/&lt;/&gt;/&quot; decode), and attributes
on tags (stripped). documents.text rides in the body unchanged, so the
expected output is the entity-decoded intro + the original text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.extract import (
    nocase as _nc,
    extract_link_hosts_expr,
    extract_link_hosts_sql,
    extract_text_expr,
    extract_text_sql,
)
from ..functions.fingerprint import (
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
)
from . import register

# the entity-decoded form of _INTRO below
_INTRO = (
    '<p class="intro">links &amp; quotes: &quot;a&quot; &lt;raw&gt; </p>'
)

_HTML_SQL = (
    "'<html><head><title>d' || doc_id::VARCHAR || '</title>"
    "<style>p{color:red}</style></head>"
    "<body><script type=\"text/javascript\">var x = 1 < 2;</script>"
    + _INTRO.replace("'", "''")
    + "' || text || '</body></html>'"
)

_EXTRACT_SQL = f"""
    SELECT doc_id,
           {extract_text_sql(_HTML_SQL)} AS extracted
    FROM documents
    ORDER BY doc_id
"""


@register("extract_text", _EXTRACT_SQL)
def extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, extracted): text recovered from a constructed raw-HTML
    binary by the production extraction expressions."""
    docs = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>d"),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style></head>"),
        F.lit('<body><script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit(_INTRO),
        F.col("text"),
        F.lit("</body></html>"),
    ).cast("binary")
    return (
        docs.select(
            "doc_id", extract_text_expr(html).alias("extracted")
        )
    )


# ---------------------------------------------------------------------------
# Outlink extraction: hrefs in the raw HTML resolved to destination hosts
# and aggregated to the (src, dst, n_links) edge table — the REAL input
# for the link-graph prior (queries/graph.py documents that its derived
# graph is the fixture stand-in; tests/test_extract_links.py runs
# pagerank_edges over this query's output to make the swap executable).
#
# The constructed page plants every extraction branch: an absolute link in
# uppercase scheme/host and SINGLE-quoted uppercase HREF (case folding +
# quote style), a relative link (resolves to the page's own host), and a
# fixed absolute link (a shared "CDN" every page cites). The destination
# variety comes from the same deterministic fingerprint the graph module
# uses, so edges are a pure function of the corpus on both engines.
#
# Scale shape: scan → projection (construct + extract + resolve, all JVM
# regex/higher-order exprs) → explode → hash agg keyed on (src, dst) host
# pairs — one exchange whose key space is host-pair-bounded, with map-side
# combine; html bytes never shuffle and never cross to Python.
# ---------------------------------------------------------------------------

_N_LINK_HOSTS = 7

_LINKS_HTML_SQL = f"""
    '<html><body><p>' || text || '</p><A HREF=''HTTPS://H' ||
    (((fp % {_N_LINK_HOSTS}) + {_N_LINK_HOSTS}) % {_N_LINK_HOSTS})::VARCHAR ||
    '.Example.org/p/' || doc_id::VARCHAR ||
    '''>x</A><a href="/about">y</a>' ||
    '<a href="https://cdn.example.org/lib.js">z</a></body></html>'
"""

_LINKS_SQL = f"""
    WITH d AS (SELECT doc_id, source, text,
                      {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp
               FROM documents),
    h AS (SELECT source, {_LINKS_HTML_SQL} AS html FROM d)
    SELECT src, dst, count(*)::BIGINT AS n_links
    FROM (SELECT source AS src,
                 unnest({extract_link_hosts_sql("html", "source")}) AS dst
          FROM h)
    GROUP BY src, dst
"""


@register("extract_links", _LINKS_SQL)
def extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n_links): host-level outlink edges extracted from the
    constructed raw HTML — absolute hrefs resolve through the urlops host
    extraction, relative hrefs to the page's own host."""
    d = read_table(spark, sf_dir, "documents")
    k = F.pmod(
        rolling_fingerprint_expr(ts.tokens_expr(F.col("text"))),
        F.lit(_N_LINK_HOSTS),
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit("</p><A HREF='HTTPS://H"),
        k.cast("string"),
        F.lit(".Example.org/p/"),
        F.col("doc_id").cast("string"),
        F.lit("'>x</A><a href=\"/about\">y</a>"),
        F.lit('<a href="https://cdn.example.org/lib.js">z</a></body></html>'),
    ).cast("binary")
    hosts = extract_link_hosts_expr(html, F.col("source"))
    return (
        d.select(F.col("source").alias("src"), F.explode(hosts).alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


# ---------------------------------------------------------------------------
# Meta-directive extraction: <meta name="robots"> and <link rel="canonical">
# from the raw capture — the crawl-politeness gate every production
# pipeline applies before spending any QA compute (a page that asks not to
# be indexed is dropped regardless of quality), plus the canonical URL
# that feeds URL-level dedup (dedup_url_latest / url_canonicalize consume
# exactly this kind of publisher-declared grouping key).
#
# The constructed <head> plants every branch: directive present in mixed
# case (case-fold), 'noindex, nofollow' vs bare 'NOINDEX' (token split),
# directive absent entirely (missing-tag default = indexable), canonical
# present vs absent, and EVEN/ODD doc pairs sharing one canonical href
# (the publisher-declared duplicate family).
#
# Scale shape: one projection over the scan — three JVM regexes per row on
# the head slice, no exchange, no Python; html never leaves the JVM.
# ---------------------------------------------------------------------------

# explicit per-letter classes, not (?i) — Java folds ASCII-only, RE2
# Unicode-wide (U+017F/U+212A/dotless-i), so (?i) is a latent twin gap on
# adversarial captures (see functions/extract.py:nocase)
_ROBOTS_RE = (
    "<" + _nc("meta") + "\\s+" + _nc("name") + '="' + _nc("robots")
    + '"\\s+' + _nc("content") + '="([^"]*)"'
)
_CANON_RE = (
    "<" + _nc("link") + "\\s+" + _nc("rel") + '="' + _nc("canonical")
    + '"\\s+' + _nc("href") + '="([^"]*)"'
)

_META_HTML_SQL = """
    '<html><head>' ||
    CASE (doc_id % 4)
      WHEN 0 THEN '<meta name="ROBOTS" content="noindex, nofollow">'
      WHEN 1 THEN '<meta name="robots" content="NOINDEX">'
      WHEN 2 THEN '<meta name="Robots" content="index, follow">'
      ELSE '' END ||
    CASE WHEN doc_id % 3 = 0 THEN ''
         ELSE '<link rel="canonical" href="https://h'
              || ((doc_id - (doc_id % 2)) % 5)::VARCHAR || '.example.org/c/'
              || (doc_id - (doc_id % 2))::VARCHAR || '">' END ||
    '</head><body>' || text || '</body></html>'
"""

_META_SQL = f"""
    WITH h AS (SELECT doc_id, {_META_HTML_SQL} AS html FROM documents),
    x AS (
      SELECT doc_id,
             lower(coalesce(regexp_extract(html, '{_ROBOTS_RE}', 1), ''))
               AS robots,
             coalesce(regexp_extract(html, '{_CANON_RE}', 1), '')
               AS canonical
      FROM h
    )
    SELECT doc_id, robots, canonical,
           robots LIKE '%noindex%' AS noindex,
           robots LIKE '%nofollow%' AS nofollow,
           NOT robots LIKE '%noindex%' AS index_keep
    FROM x
"""


@register("meta_directives", _META_SQL)
def meta_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, robots, canonical, noindex, nofollow, index_keep): robots
    meta directive + canonical link recovered from the constructed raw
    capture; ``index_keep`` is the politeness gate (missing directive =
    indexable), ``canonical`` the publisher-declared dup-family key."""
    d = read_table(spark, sf_dir, "documents")
    m4 = F.pmod(F.col("doc_id"), F.lit(4))
    meta_tag = (
        F.when(
            m4 == 0,
            F.lit('<meta name="ROBOTS" content="noindex, nofollow">'),
        )
        .when(m4 == 1, F.lit('<meta name="robots" content="NOINDEX">'))
        .when(m4 == 2, F.lit('<meta name="Robots" content="index, follow">'))
        .otherwise(F.lit(""))
    )
    canon_tag = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("")
    ).otherwise(
        F.concat(
            F.lit('<link rel="canonical" href="https://h'),
            F.pmod(
                F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(2)),
                F.lit(5),
            ).cast("string"),
            F.lit(".example.org/c/"),
            (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(2))).cast(
                "string"
            ),
            F.lit('">'),
        )
    )
    html = F.concat(
        F.lit("<html><head>"),
        meta_tag,
        canon_tag,
        F.lit("</head><body>"),
        F.col("text"),
        F.lit("</body></html>"),
    )
    staged = d.select(
        "doc_id",
        F.lower(F.regexp_extract(html, _ROBOTS_RE, 1)).alias("robots"),
        F.regexp_extract(html, _CANON_RE, 1).alias("canonical"),
    )
    noindex = F.col("robots").contains("noindex")
    return staged.select(
        "doc_id",
        "robots",
        "canonical",
        noindex.alias("noindex"),
        F.col("robots").contains("nofollow").alias("nofollow"),
        (~noindex).alias("index_keep"),
    )


# ---------------------------------------------------------------------------
# Canonical-key dedup: group documents by the publisher-declared canonical
# URL recovered above — the cheapest dedup signal in a crawl (no content
# hashing at all: the publisher TELLS you the duplicate family) and the
# standard first pass before content-based dedup spends compute.
#
# Scale shape: the meta_directives projection (one scan, JVM regexes) →
# filter to link-bearing docs → ONE hash agg keyed on the canonical href
# (short publisher strings, cardinality ≤ n_docs, map-side combine) →
# family filter. Representative = min doc_id, the dedup_exact convention.
# ---------------------------------------------------------------------------

_CANON_DEDUP_SQL = f"""
    WITH meta AS ({_META_SQL})
    SELECT canonical, count(*)::BIGINT AS n_docs,
           min(doc_id)::BIGINT AS rep_doc_id
    FROM meta WHERE canonical <> ''
    GROUP BY canonical HAVING count(*) >= 2
"""


@register("dedup_canonical", _CANON_DEDUP_SQL)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(canonical, n_docs, rep_doc_id): publisher-declared duplicate
    families — documents sharing a rel=canonical href, keeping the
    min-doc_id representative (the dedup_exact convention). Composes the
    meta_directives extraction, so the two queries can never disagree
    about what the canonical key is."""
    meta = meta_directives(spark, sf_dir)
    return (
        meta.filter(F.col("canonical") != "")
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# hreflang alternate clusters: <link rel="alternate" hreflang="xx"> blocks
# mined into cross-language page families — the URL-structure signal behind
# web-mined parallel corpora (CCAligned, El-Kishky et al. 2020: translation
# candidates come from pages that DECLARE each other as language alternates
# before any content model runs) and the cross-lingual complement of
# `dedup_canonical`'s same-language families.
#
# Plant: pages in groups of three (fid = doc_id div 3) carry a two-language
# alternate block pointing at the family path f/<fid>/<lang>; every fifth
# page omits the block (not all pages annotate). Family key = the href
# with the trailing language segment stripped; per-page language set is
# emitted as a canonically sorted csv so the family rollup needs no
# cross-engine set aggregation (every member declares the same set —
# asserted by the min() == max() guard column).
#
# Scale shape: one projection (regexes on the head slice) → one hash agg
# keyed on the family path (short publisher strings, map-side combine) →
# HAVING n_pages >= 2. No explode: the language list folds to its csv
# inside the row.
# ---------------------------------------------------------------------------

_LANG_WHEEL = ["en", "de", "fr", "es", "zh"]
_HREFLANG_RE = (
    "<" + _nc("link") + "\\s+" + _nc("rel") + '="' + _nc("alternate")
    + '"\\s+' + _nc("hreflang") + '="([a-z]+)"'
)
_ALT_HREF_RE = _nc("hreflang") + '="[a-z]+"\\s+' + _nc("href") + '="([^"]*)"'
_FAMILY_RE = "^(.*)/[a-z]+$"


def _hreflang_plant_sql() -> str:
    wheel = ", ".join(f"'{lang}'" for lang in _LANG_WHEEL)
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 4 THEN '<html><head></head>'
                ELSE '<html><head>'
                  || '<link rel="alternate" hreflang="' || la
                  || '" href="https://h' || (fid % 7)::VARCHAR
                  || '.example.org/f/' || fid::VARCHAR || '/' || la || '">'
                  || '<link rel="Alternate" hreflang="' || lb
                  || '" href="https://h' || (fid % 7)::VARCHAR
                  || '.example.org/f/' || fid::VARCHAR || '/' || lb || '">'
                  || '</head>' END AS head
    FROM (
      SELECT doc_id, fid,
             wheel[(fid % 5) + 1] AS la,
             wheel[((fid + 2) % 5) + 1] AS lb
      FROM (SELECT doc_id, (doc_id - doc_id % 3) // 3 AS fid,
                   [{wheel}] AS wheel
            FROM documents)
    )"""


_HREFLANG_SQL = f"""
    WITH h AS ({_hreflang_plant_sql()}),
    x AS (
      SELECT doc_id,
             regexp_extract_all(head, '{_HREFLANG_RE}', 1) AS langs,
             regexp_extract_all(head, '{_ALT_HREF_RE}', 1) AS hrefs
      FROM h
    ),
    f AS (
      SELECT doc_id,
             regexp_extract(hrefs[1], '{_FAMILY_RE}', 1) AS family,
             CASE WHEN len(langs) = 0 THEN ''
                  WHEN len(langs) = 1 THEN langs[1]
                  WHEN langs[1] <= langs[2]
                    THEN langs[1] || ',' || langs[2]
                  ELSE langs[2] || ',' || langs[1] END AS langs_csv
      FROM x
    )
    SELECT family, count(*)::BIGINT AS n_pages,
           min(langs_csv) AS langs_csv,
           (min(langs_csv) = max(langs_csv)) AS consistent
    FROM f WHERE family <> ''
    GROUP BY family HAVING count(*) >= 2
"""


@register("hreflang_clusters", _HREFLANG_SQL)
def hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(family, n_pages, langs_csv, consistent): cross-language page
    families mined from planted hreflang alternate blocks — the
    URL-declared translation candidates of CCAligned-style parallel-corpus
    mining. `consistent` asserts every member declares the same language
    set (min == max of the per-page canonical csv)."""
    d = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fid = ((did - F.pmod(did, F.lit(3))) / F.lit(3)).cast("long")
    wheel = F.array(*[F.lit(lang) for lang in _LANG_WHEEL])
    la = F.element_at(wheel, (F.pmod(fid, F.lit(5)) + 1).cast("int"))
    lb = F.element_at(
        wheel, (F.pmod(fid + 2, F.lit(5)) + 1).cast("int")
    )

    def alt(lang: Column, rel: str) -> Column:
        return F.concat(
            F.lit(f'<link rel="{rel}" hreflang="'),
            lang,
            F.lit('" href="https://h'),
            F.pmod(fid, F.lit(7)).cast("string"),
            F.lit(".example.org/f/"),
            fid.cast("string"),
            F.lit("/"),
            lang,
            F.lit('">'),
        )

    head = F.when(
        F.pmod(did, F.lit(5)) == 4, F.lit("<html><head></head>")
    ).otherwise(
        F.concat(
            F.lit("<html><head>"),
            alt(la, "alternate"),
            alt(lb, "Alternate"),
            F.lit("</head>"),
        )
    )
    x = d.select(
        "doc_id",
        F.regexp_extract_all(head, F.lit(_HREFLANG_RE), 1).alias("langs"),
        F.regexp_extract_all(head, F.lit(_ALT_HREF_RE), 1).alias("hrefs"),
    )
    lgs = F.col("langs")
    # try_element_at, not element_at: pages without the block yield empty
    # arrays, and ANSI element_at raises even under a size() guard once
    # codegen hoists it
    l1, l2 = F.try_element_at(lgs, F.lit(1)), F.try_element_at(lgs, F.lit(2))
    fam = x.select(
        "doc_id",
        F.coalesce(
            F.regexp_extract(
                F.try_element_at(F.col("hrefs"), F.lit(1)), _FAMILY_RE, 1
            ),
            F.lit(""),
        ).alias("family"),
        # explicit per-size branches, mirrored in the oracle CASE: Spark's
        # least/greatest SKIP nulls (a 1-element list would fold to
        # "en,en") while a bare SQL CASE on langs[2] yields NULL — both
        # engines therefore branch on the list length itself, so the twins
        # agree on every list size, not just the 0/2 sizes the plant emits
        F.when(F.size(lgs) == 0, F.lit(""))
        .when(F.size(lgs) == 1, l1)
        .otherwise(F.concat_ws(",", F.least(l1, l2), F.greatest(l1, l2)))
        .alias("langs_csv"),
    )
    return (
        fam.filter(F.col("family") != "")
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("langs_csv").alias("langs_csv"),
            (F.min("langs_csv") == F.max("langs_csv")).alias("consistent"),
        )
        .filter(F.col("n_pages") >= 2)
    )
