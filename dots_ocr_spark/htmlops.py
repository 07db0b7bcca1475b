"""HTML main-content extraction — the web-document half of the
north-rule's "main-content extraction pipeline (HTML boilerplate strip,
PDF/layout parse, DOM heuristics)".

The reference engine parses rendered pages; a web-scale training
pipeline also ingests raw HTML. This module supplies that leg
Spark-first: a deterministic HTML synthesizer (so the driver's DuckDB
oracle can predict the extraction output from the RAW text without
parsing any HTML — an independent double derivation) and a
jusText/Readability-style block-level boilerplate stripper built
entirely from codegen'd regexp functions plus bounded higher-order
array ops (zero shuffles, zero Python).

Block classification rule (the jusText core, simplified to its two
strongest signals):

  keep a block iff  link_density <= 0.5  AND  n_words >= 3

where link_density = chars inside ``<a>`` / chars of the tag-stripped
block text. Navigation bars, footers, and promo-link wrappers all have
link_density ~1 and die on the first gate; stub blocks die on the
second. The density compare is done in INTEGER form
(``2*len(linked) <= len(text)``) so no float rounding can diverge
between engines.

Scale shape: one row in, one row out, no exchange anywhere — the block
array is bound once per consumer chain and the interpreted-HOF
re-evaluation is bounded by the per-document block count (CLAUDE.md HOF
rule; the explode+groupBy alternative would add an exchange for a
per-row constant factor ~2, the wrong trade at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.ingest import chunk_words

#: words per synthesized content block (matches the multipage chunking)
HB_CHUNK_WORDS = 10
#: first hex nibble of md5(doc_id || ':hb:' || block_idx) below this ⇒
#: the chunk is wrapped as a promo-link boilerplate block instead of a
#: content paragraph
HB_BOILER_BELOW = 4
#: minimum words for a content block (jusText "too short" gate)
HB_MIN_WORDS = 3

_NAV_HTML = '<nav><a href="/h">home</a> <a href="/c">contact</a></nav>'
_FOOTER_HTML = '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'

#: block-level elements recognized by the stripper; ``a`` is exempt so
#: inline anchors stay inside their parent block. (?s): Java regex ``.``
#: does NOT match line terminators by default, so without DOTALL any
#: block whose text contains a newline would be unmatchable — dropped by
#: the stripper while the oracle still counts it.
_BLOCK_RE = r"(?s)<(?:p|div|nav|footer)[^>]*>(.*?)</(?:p|div|nav|footer)>"
_TAG_RE = r"<[^>]+>"
_ANCHOR_RE = r"(?s)<a[^>]*>([^<]*)</a>"


def _esc(c: Column) -> Column:
    """HTML-entity-escape raw document text before wrapping it in markup,
    so text containing literal ``<p>``-like fragments can never open or
    close a block. ``&`` first so the escape round-trips."""
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def _unesc(c: Column) -> Column:
    """Inverse of :func:`_esc`, applied after tag stripping — extracted
    content round-trips to the RAW text, which is what the DuckDB oracle
    predicts from the corpus without parsing HTML. ``&amp;`` last."""
    c = F.regexp_replace(c, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    return F.regexp_replace(c, "&amp;", "&")


def synthesize_html(docs: DataFrame, doc_id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Flat (doc_id, text) corpus → (doc_id, html): nav + one block per
    ``HB_CHUNK_WORDS``-word chunk (content ``<p>`` or md5-drawn
    promo-link ``<div>``) + footer. Pure codegen'd expressions; the
    draws are shared with the SQL oracle so the stripped output is
    predictable from the raw text alone."""
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(_esc(F.col(text_col)), HB_CHUNK_WORDS)
    blocks = F.transform(
        chunks,
        lambda ch, j: F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(did, F.lit(":hb:"), j.cast("string"))),
                    1, 1),
                16, 10).cast("int") < HB_BOILER_BELOW,
            F.concat(F.lit('<div class="promo"><a href="/x">'), ch,
                     F.lit("</a></div>")),
        ).otherwise(F.concat(F.lit("<p>"), ch, F.lit("</p>"))),
    )
    return docs.select(
        did.alias("doc_id"),
        F.concat(F.lit(_NAV_HTML), F.array_join(blocks, ""),
                 F.lit(_FOOTER_HTML)).alias("html"),
    )


def _stripped(b: Column) -> Column:
    # tag-strip first (escaped text contains no raw '<', so only real
    # markup matches), then entity-unescape back to the raw text
    return _unesc(F.regexp_replace(b, _TAG_RE, ""))


def _linked(b: Column) -> Column:
    return F.array_join(F.regexp_extract_all(b, F.lit(_ANCHOR_RE), 1), "")


def strip_boilerplate(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) → (doc_id, n_blocks, n_kept, content): block-split
    the HTML, classify each block by the integer-form link-density gate
    plus the min-words gate, join the surviving block texts with blank
    lines (document reading order = DOM order).

    HOF shape: the per-block regex work (tag strip + anchor extract) is
    folded into ONE transform producing struct(txt, n_linked), so each
    downstream reference to the filtered array re-runs only cheap field
    reads and comparisons, not the regexes (the naive form re-ran the
    tag-strip regex ~7× per kept block across the filter's three gate
    mentions and the content transform)."""
    blocks = F.expr(
        f"regexp_extract_all({html_col}, '{_BLOCK_RE}', 1)")
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _stripped(b).alias("txt"),
            F.length(_linked(b)).alias("n_linked"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["txt"]) > 0)
        & (F.size(F.split(s["txt"], " ")) >= HB_MIN_WORDS)
        & (s["n_linked"] * 2 <= F.length(s["txt"])),
    )
    return df.select(
        "doc_id",
        F.size(blocks).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda s: s["txt"]), "\n\n").alias("content"),
    )


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: synthesize HTML from the documents corpus, strip
    boilerplate, emit (doc_id, n_blocks, n_kept, content_md5). The
    oracle derives the SAME answer from the raw text + the md5 draws
    without touching HTML, so a stripper that keeps any boilerplate
    block (nav / footer / promo wrapper) or drops any content block
    hash-mismatches."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = synthesize_html(docs)
    out = strip_boilerplate(html)
    return out.select(
        "doc_id", "n_blocks", "n_kept",
        F.md5("content").alias("content_md5"),
    )


ORACLE_HTML_MAIN_CONTENT = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(ceil(n / {HB_CHUNK_WORDS}.0) AS INT) AS n_chunks,
         [array_to_string(toks[(i*{HB_CHUNK_WORDS}+1):least(
              (i+1)*{HB_CHUNK_WORDS}, n)], ' ')
          FOR i IN range(0, CAST(ceil(n / {HB_CHUNK_WORDS}.0) AS INT))]
           AS chunks
  FROM t
), g AS (
  SELECT doc_id, n_chunks,
         [chunks[j] FOR j IN range(1, len(chunks)+1)
          IF CAST(('0x' || substring(md5(doc_id || ':hb:' || (j-1)), 1, 1))
                  AS INT) >= {HB_BOILER_BELOW}
             AND len(string_split(chunks[j], ' ')) >= {HB_MIN_WORDS}]
           AS good
  FROM c
)
SELECT doc_id,
       CAST(n_chunks + 2 AS BIGINT) AS n_blocks,
       CAST(len(good) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(good, chr(10)||chr(10)), ''))
         AS content_md5
FROM g
"""


#: href capture from an anchor OPEN tag; body/quotes in the block text
#: cannot match because synthesized text is entity-escaped (no raw '<')
_HREF_RE = r'<a[^>]*href="([^"]*)"[^>]*>'


def extract_outlinks(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) → (doc_id, n_links, hrefs_md5): every anchor href
    in DOM order — the link-graph edge list a web training pipeline
    feeds into PageRank-ish quality signals and host-level dedup. Pure
    codegen'd regexp extraction, zero exchanges, order-preserving (the
    md5 is over the comma-joined ordered list, so a stripper that
    reorders or drops an anchor hash-mismatches)."""
    hrefs = F.expr(f"regexp_extract_all({html_col}, '{_HREF_RE}', 1)")
    return df.select(
        "doc_id",
        F.size(hrefs).cast("long").alias("n_links"),
        F.md5(F.array_join(hrefs, ",")).alias("hrefs_md5"),
    )


def html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: synthesize HTML from the documents corpus and
    extract the ordered outlink list. The oracle predicts the exact
    href sequence from the RAW text + the shared md5 promo draws (nav
    contributes /h,/c; each promo-drawn chunk one /x in chunk order;
    the footer /t,/p) — so this value-checks anchor parsing + document
    order end-to-end without the oracle touching HTML."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_outlinks(synthesize_html(docs))


ORACLE_HTML_OUTLINKS = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, CAST(ceil(n / {HB_CHUNK_WORDS}.0) AS INT) AS nc FROM t
), g AS (
  SELECT doc_id,
         ['/x' FOR j IN range(0, nc)
          IF CAST(('0x' || substring(md5(doc_id || ':hb:' || j), 1, 1))
                  AS INT) < {HB_BOILER_BELOW}] AS promos
  FROM c
)
SELECT doc_id,
       CAST(4 + len(promos) AS BIGINT) AS n_links,
       md5('/h,/c'
           || CASE WHEN len(promos) > 0
                   THEN ',' || array_to_string(promos, ',')
                   ELSE '' END
           || ',/t,/p') AS hrefs_md5
FROM g
"""
