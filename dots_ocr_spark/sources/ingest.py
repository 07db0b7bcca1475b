"""Ingestion sources: build the interleaved input table from upstream
shapes (S2/S3 analogs — the reference's polymorphic input acceptance,
dotsocr_service.py:568-607, re-expressed as table-to-table operators).

``interleaved_from_text`` is deliberately 100% JVM expressions (no Python
UDF): paginating a flat text corpus into page payloads is string/array
algebra, which Catalyst codegens — the Python boundary stays reserved for
the parse stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PAGE_W, PAGE_H = 1700, 2200
CHUNK_WORDS = 40
BLOCK_H, BLOCK_GAP, BODY_TOP = 100, 20, 150

# ---- multi-page generator knobs (interleaved_multipage) -------------------
#: words per Text block in the multi-page shape (small so the 10-100-word
#: synthetic docs actually paginate into several pages)
MP_CHUNK_WORDS = 10
#: Text blocks per page
MP_CHUNKS_PER_PAGE = 2
#: fixed Picture-cell bbox — below every Text block, so XY-cut orders it
#: last on the page; fixed coords keep the crop identity SQL-derivable
MP_PIC_BBOX = (100, 1900, 500, 2100)
#: page-status draw thresholds out of 256 (first byte of
#: md5(doc_id || ':st:' || page_no)): < FAILED ⇒ structurally illegal
#: payload (page fails), < FALLBACK ⇒ corrupted payload (repair chain
#: recovers the cells, page degrades to one whole-page Text cell)
MP_FAILED_BELOW = 16
MP_FALLBACK_BELOW = 48
#: picture draw: first hex nibble of md5(doc_id || ':pic:' || page_no) < 8
MP_PIC_BELOW = 8


def _cells_expr(words: Column) -> Column:
    """array<struct<bbox,category,text>> from a word array: one Text block
    per CHUNK_WORDS words, stacked vertically with clean XY-cut gaps."""
    n_chunks = F.ceil(F.size(words) / F.lit(CHUNK_WORDS)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array(
                F.lit(100),
                F.lit(BODY_TOP) + i * (BLOCK_H + BLOCK_GAP),
                F.lit(PAGE_W - 100),
                F.lit(BODY_TOP) + i * (BLOCK_H + BLOCK_GAP) + BLOCK_H,
            ).alias("bbox"),
            F.lit("Text").alias("category"),
            F.array_join(
                F.slice(words, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
            ).alias("text"),
        ),
    )


def chunk_words(text: Column, n_words: int) -> Column:
    """``n_words``-word chunks of a space-separated text column via ONE
    codegen'd regexp pass: every n-th space becomes a LITERAL U+0001
    marker and a split yields the chunks - equivalent to
    array_join(slice(split(text), ...)) per chunk but evaluated once
    per reference instead of re-splitting the text inside interpreted
    per-page HOF lambdas (measured 3.5s -> 1.3s on the sf0.1 corpus).

    THE one definition of the invisible-marker idiom (CLAUDE.md hazard:
    a hand-copied marker silently drops to per-character splitting) -
    add new generators against this helper, never by copying the
    pattern.
    """
    marked = F.regexp_replace(
        text,
        r"((?:\S+ ){%d}\S+) " % (n_words - 1),
        "$1",
    )
    return F.split(marked, "")


def interleaved_from_text(docs: DataFrame, doc_id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Flat (doc_id, text) corpus → the interleaved input table shape
    (doc_id, spans, pages, n_pages, size_class), single-page documents.

    The payload is the same VLM-style JSON the extraction stage parses, so
    a flat corpus rides the identical pipeline as native interleaved docs.
    """
    words = F.split(F.col(text_col), " ")
    cells = _cells_expr(words)
    n_chunks = F.size(cells)
    height = F.greatest(
        F.lit(PAGE_H),
        F.lit(BODY_TOP) + n_chunks * (BLOCK_H + BLOCK_GAP) + F.lit(60),
    ).cast("int")

    spans = F.transform(
        cells,
        lambda c, i: F.struct(
            F.lit("text").alias("kind"),
            c["text"].alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    pages = F.array(
        F.struct(
            F.lit(0).alias("page_no"),
            F.lit(PAGE_W).alias("width"),
            height.alias("height"),
            F.lit(1.0).alias("scale_factor"),
            F.to_json(cells).alias("payload"),
            F.lit(None).cast("string").alias("toc_json"),
            F.lit(None).cast("string").alias("words_json"),
        )
    )
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        spans.alias("spans"),
        pages.alias("pages"),
        F.lit(1).alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


# ---------------------------------------------------------------------------
# F7 file-format gate + S5 TOC y-flip (the ingest-boundary operators)
# ---------------------------------------------------------------------------

#: accepted input formats (dotsocr_service.py:587-593)
SUPPORTED_FORMATS = (".pdf", ".jpg", ".jpeg", ".png")


def file_ext_expr(path_col: str) -> Column:
    """``Path(path).suffix.lower()`` as a JVM expression: the last
    ``.``-suffix of the final path component, empty for dotless names,
    leading-dot-only names (``.hidden``), and trailing-dot names
    (``a.`` — Path requires a non-empty suffix body). The regex avoids
    lookbehind so the same pattern runs on RE2 engines (DuckDB oracle)."""
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    return F.lower(F.regexp_extract(base, r".(\.[^.]+)$", 1))


def file_format_gate(df: DataFrame, path_col: str = "path") -> DataFrame:
    """F7 — drop rows whose file extension is not a supported input
    format (the reference rejects the request with a 400,
    dotsocr_service.py:587-593; as a table operator the unsupported rows
    are filtered before any fetch/decode work is scheduled)."""
    ext = file_ext_expr(path_col)
    return df.withColumn("file_ext", ext).where(
        F.col("file_ext").isin(*SUPPORTED_FORMATS))


def flip_toc_y(toc_df: DataFrame, y_col: str = "to_y",
               height_col: str = "page_height") -> DataFrame:
    """S5 — PDF coordinates are bottom-left-origin; layout space is
    top-left-origin: ``y → page_height − y`` for every TOC destination
    (pdf_extractor.py:110). Pure column arithmetic at ingest, before the
    TOC is grouped per page and joined to the extraction input."""
    return toc_df.withColumn(y_col, F.col(height_col) - F.col(y_col))


# ---------------------------------------------------------------------------
# multi-page interleaved generator (flagship driver-oracle input)
# ---------------------------------------------------------------------------

_EMPTY_SPANS = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _hex_draw(did: Column, salt: str, p: Column, n_chars: int) -> Column:
    """Deterministic integer draw from the first ``n_chars`` hex chars of
    ``md5(doc_id || salt || page_no)`` — the same value DuckDB computes
    with ``CAST(('0x' || substring(md5(...), 1, n)) AS INT)``."""
    return F.conv(
        F.substring(F.md5(F.concat(did, F.lit(salt), p.cast("string"))),
                    1, n_chars),
        16, 10,
    ).cast("int")


def interleaved_multipage(docs: DataFrame, doc_id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Flat (doc_id, text) corpus → a MULTI-PAGE interleaved input table
    that exercises the full extraction pipeline — pagination, Picture
    cells with derivable crop identities, a deterministic
    corrupted-payload subset (repaired by the C1-C5 chain into a
    whole-page fallback cell), and a deterministic structurally-illegal
    subset (page failure + doc fail-threshold accounting) — while staying
    100% JVM expressions AND fully SQL-derivable, so the driver's DuckDB
    oracle can value-check the END-TO-END pipeline output.

    Shape per document (everything keyed on md5 draws shared with the
    oracle SQL):

      * words → ``MP_CHUNK_WORDS``-word Text blocks → pages of
        ``MP_CHUNKS_PER_PAGE`` blocks (10-100-word docs ⇒ 1-5 pages);
      * page-status draw: ~6% of pages get ``[{"bbox": [0, 0, 10, 10]}]``
        (missing category ⇒ F1 validation fails the page, exercising the
        fail-threshold path of dotsocr_service.py:430-515); ~12% get the
        valid payload corrupted by dropping the closing ``]`` and
        appending a truncated object — the C2 truncation + C4 re-wrap
        chain (output_cleaner.py:188-269) recovers every cell and the
        page degrades to one whole-page Text cell (fallback status);
      * picture draw: ~half the pages append a Picture cell at
        ``MP_PIC_BBOX`` (below all text ⇒ XY-cut orders it last); its
        span carries the P7 crop identity
        ``crop-<md5(doc:page:x1,y1,x2,y2)[:16]>`` (ocr_task.py:150-155).
    """
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)
    n_chunks = F.size(chunks)
    n_pages = F.ceil(n_chunks / F.lit(MP_CHUNKS_PER_PAGE)).cast("int")

    x1, y1, x2, y2 = MP_PIC_BBOX
    pic_cell = F.struct(
        F.array(F.lit(x1), F.lit(y1), F.lit(x2), F.lit(y2)).alias("bbox"),
        F.lit("Picture").alias("category"),
        F.lit(None).cast("string").alias("text"),
    )

    def _page(chunks_col: Column, did_col: Column):
        def build(p: Column) -> Column:
            pchunks = F.slice(
                chunks_col, p * MP_CHUNKS_PER_PAGE + 1, MP_CHUNKS_PER_PAGE)
            text_cells = F.transform(
                pchunks,
                lambda ch, j: F.struct(
                    F.array(
                        F.lit(100),
                        F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP),
                        F.lit(PAGE_W - 100),
                        F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP) + BLOCK_H,
                    ).alias("bbox"),
                    F.lit("Text").alias("category"),
                    ch.alias("text"),
                ),
            )
            has_pic = _hex_draw(did_col, ":pic:", p, 1) < MP_PIC_BELOW
            cells = F.when(
                has_pic, F.concat(text_cells, F.array(pic_cell))
            ).otherwise(text_cells)
            base = F.to_json(cells)
            sv = _hex_draw(did_col, ":st:", p, 2)
            payload = (
                F.when(sv < MP_FAILED_BELOW,
                       F.lit('[{"bbox": [0, 0, 10, 10]}]'))
                .when(sv < MP_FALLBACK_BELOW,
                      F.concat(base.substr(F.lit(1), F.length(base) - 1),
                               F.lit(',{"bbox": [')))
                .otherwise(base)
            )
            return F.struct(
                p.cast("int").alias("page_no"),
                F.lit(PAGE_W).alias("width"),
                F.lit(PAGE_H).alias("height"),
                F.lit(1.0).alias("scale_factor"),
                payload.alias("payload"),
                F.lit(None).cast("string").alias("toc_json"),
                F.lit(None).cast("string").alias("words_json"),
            )

        return build

    pages = F.transform(
        F.sequence(F.lit(0), n_pages - 1), _page(chunks, did))
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        n_pages.alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


# ---- TOC generator knobs (interleaved_toc) --------------------------------
#: first hex nibble of md5(doc_id || ':toc:' || page_no) below this ⇒ the
#: page carries a TOC whose first entry fuzzy-matches the Section-header
#: (ratio 100, inside-bbox distance 0); otherwise the page carries an
#: EMPTY TOC (structured doc, page without entries) which still runs the
#: rebuild and demotes every header through the unmatched path
TOC_MATCH_BELOW = 8
#: Section-header cell bbox (top block) and the TOC destination point
#: inside it (⇒ point-to-bbox distance 0, directory_entry.py:115-117)
TOC_HDR_BBOX = (100, BODY_TOP, PAGE_W - 100, BODY_TOP + BLOCK_H)
TOC_DEST = (150, 200)
#: alternate destination OUTSIDE the header bbox (50 px below) but far
#: nearer to it than to the List-item at the page bottom — exercises the
#: positive point-to-bbox Euclidean distance branch of the nearest-claim
#: under the external oracle (the claim outcome is identical, so the
#: oracle SQL needs no branch); drawn when the match nibble is >= this
TOC_DEST_OUTSIDE = (150, 300)
TOC_OUTSIDE_FROM = 4
#: List-item cell bbox — bottom of the page, below every Text block
TOC_LI_BBOX = (100, 1900, PAGE_W - 100, 2000)
#: decoy TOC entry text: alphabet disjoint from 'sec '/'li ' + hex, so the
#: Indel ratio against every header is exactly 0 (< the 40 gate) and the
#: entry provably claims nothing — the F8 no-match path
TOC_DECOY = "z" * 16


def interleaved_toc(docs: DataFrame, doc_id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Flat corpus → multi-page interleaved docs that drive the TOC
    directory rebuild (J1 fuzzy match + O5 level reassignment + T6-T8
    header rewrite; reference directory_entry.py:180-215) through the
    REAL pipeline code path with md5-deterministic, SQL-predictable
    outcomes, so the driver's DuckDB oracle value-checks the rebuild.

    Per page:

      * a Section-header cell ``"## sec <md5hex8>"`` in the top block —
        md5-drawn text (alphabet ``sec +hex``) keeps the fuzzy-ratio
        algebra exact: the matching TOC entry's text equals the cleaned
        header text (ratio 100) and its destination sits inside the
        header bbox (distance 0), so the entry claims the header;
      * 1-2 Text blocks below it carrying the corpus chunks;
      * a List-item cell ``"li <md5hex8>"`` at the page bottom — never
        claimed (the matching entry is at distance 0 on the header
        first, strict ``<``), so it always exits through the unmatched
        List-item ⇒ level 8 rule;
      * the TOC draw (first hex nibble of ``md5(doc_id':toc:'page)``):
        < ``TOC_MATCH_BELOW`` ⇒ ``[match(level L=1+(d%3)), decoy]`` —
        the header is rewritten to level L (L=1 additionally flips the
        category to lowercase ``title``, the reference's faithful
        quirk); otherwise ``[]`` — the empty-TOC page still runs the
        rebuild and the unmatched header lands at
        ``min(8, max(5, 0) + rank + 1) = 6`` (``###### ``).

    The decoy entry (ratio 0 < the 40 gate against every header) proves
    the F8 no-match path in the same rows.
    """
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)
    n_chunks = F.size(chunks)
    n_pages = F.ceil(n_chunks / F.lit(MP_CHUNKS_PER_PAGE)).cast("int")

    hx1, hy1, hx2, hy2 = TOC_HDR_BBOX
    lx1, ly1, lx2, ly2 = TOC_LI_BBOX

    def _page(chunks_col: Column, did_col: Column):
        def build(p: Column) -> Column:
            hd = F.concat(
                F.lit("sec "),
                F.substring(F.md5(F.concat(did_col, F.lit(":hd:"),
                                           p.cast("string"))), 1, 8))
            li = F.concat(
                F.lit("li "),
                F.substring(F.md5(F.concat(did_col, F.lit(":li:"),
                                           p.cast("string"))), 1, 8))
            pchunks = F.slice(
                chunks_col, p * MP_CHUNKS_PER_PAGE + 1, MP_CHUNKS_PER_PAGE)
            hdr_cell = F.struct(
                F.array(F.lit(hx1), F.lit(hy1), F.lit(hx2), F.lit(hy2))
                 .alias("bbox"),
                F.lit("Section-header").alias("category"),
                F.concat(F.lit("## "), hd).alias("text"),
            )
            text_cells = F.transform(
                pchunks,
                lambda ch, j: F.struct(
                    F.array(
                        F.lit(100),
                        F.lit(BODY_TOP) + (j + 1) * (BLOCK_H + BLOCK_GAP),
                        F.lit(PAGE_W - 100),
                        F.lit(BODY_TOP) + (j + 1) * (BLOCK_H + BLOCK_GAP)
                        + BLOCK_H,
                    ).alias("bbox"),
                    F.lit("Text").alias("category"),
                    ch.alias("text"),
                ),
            )
            li_cell = F.struct(
                F.array(F.lit(lx1), F.lit(ly1), F.lit(lx2), F.lit(ly2))
                 .alias("bbox"),
                F.lit("List-item").alias("category"),
                li.alias("text"),
            )
            cells = F.concat(
                F.array(hdr_cell), text_cells, F.array(li_cell))
            d = _hex_draw(did_col, ":toc:", p, 1)
            # half the matched pages aim the destination inside the
            # header bbox (distance 0), half 50px below it (distance 50
            # vs 1600 to the List-item — still claims the header, but
            # through the Euclidean branch)
            to_y = F.when(d < TOC_OUTSIDE_FROM, F.lit(TOC_DEST[1])) \
                .otherwise(F.lit(TOC_DEST_OUTSIDE[1]))
            toc_entry = F.struct(
                (F.lit(1) + d % 3).alias("level"),
                hd.alias("text"),
                F.array(F.lit(TOC_DEST[0]), to_y).alias("to"),
            )
            decoy = F.struct(
                F.lit(5).alias("level"),
                F.lit(TOC_DECOY).alias("text"),
                F.array(F.lit(TOC_DEST[0]), F.lit(TOC_DEST[1])).alias("to"),
            )
            toc_json = F.when(
                d < TOC_MATCH_BELOW, F.to_json(F.array(toc_entry, decoy))
            ).otherwise(F.lit("[]"))
            return F.struct(
                p.cast("int").alias("page_no"),
                F.lit(PAGE_W).alias("width"),
                F.lit(PAGE_H).alias("height"),
                F.lit(1.0).alias("scale_factor"),
                F.to_json(cells).alias("payload"),
                toc_json.alias("toc_json"),
                F.lit(None).cast("string").alias("words_json"),
            )

        return build

    pages = F.transform(
        F.sequence(F.lit(0), n_pages - 1), _page(chunks, did))
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        n_pages.alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


# ---- two-column generator knobs (interleaved_twocol) ----------------------
#: body chunks per page (2 columns × up to 2 rows)
TC_CHUNKS_PER_PAGE = 4
#: column x-extents: left 100-800, right 900-1600 — the 100px gap at
#: x=800-900 is what the XY-cut's vertical projection finds
TC_LCOL_X, TC_RCOL_X, TC_COL_W = 100, 900, 700
#: Page-header / Page-footer bands (top and bottom of the page)
TC_HDR_BBOX = (100, 40, PAGE_W - 100, 100)
TC_FTR_BBOX = (100, 2100, PAGE_W - 100, 2160)


def interleaved_twocol(docs: DataFrame, doc_id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Flat corpus → multi-page interleaved docs whose pages are
    TWO-COLUMN layouts with a Page-header and Page-footer, emitted in a
    payload order that DIFFERS from reading order — so the O1 XY-cut
    column detection (reference layout_service.py:187-235's learned
    ordering, rebuilt as the deterministic recursive cut) and the
    headers-first/footers-last convention are value-checked by the
    external oracle instead of only the pytest golden gate.

    Per page:

      * body chunks fill the grid column-interleaved — chunk c sits in
        column ``c % 2`` (left/right), row ``c // 2`` — so the payload
        sequence L0,R0,L1,R1 must be PERMUTED to L0,L1,R0,R1 by the
        vertical-cut-first recursion (the 100px x-gap between columns
        is the cut; y-gaps order rows within each column);
      * the payload lists the Page-footer FIRST and the Page-header
        LAST; reading order must put the header first and the footer
        last regardless (spec/xycut.reading_order);
      * header/footer texts are md5-drawn, so every span, the document
        markdown, AND the header/footer-free markdown (F3 — the nohf
        variant drops exactly those two cells) are SQL-predictable.
    """
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)
    n_chunks = F.size(chunks)
    n_pages = F.ceil(n_chunks / F.lit(TC_CHUNKS_PER_PAGE)).cast("int")

    hx1, hy1, hx2, hy2 = TC_HDR_BBOX
    fx1, fy1, fx2, fy2 = TC_FTR_BBOX

    def _page(chunks_col: Column, did_col: Column):
        def build(p: Column) -> Column:
            hd = F.concat(
                F.lit("hd "),
                F.substring(F.md5(F.concat(did_col, F.lit(":ph:"),
                                           p.cast("string"))), 1, 8))
            ft = F.concat(
                F.lit("ft "),
                F.substring(F.md5(F.concat(did_col, F.lit(":pf:"),
                                           p.cast("string"))), 1, 8))
            pchunks = F.slice(
                chunks_col, p * TC_CHUNKS_PER_PAGE + 1, TC_CHUNKS_PER_PAGE)
            text_cells = F.transform(
                pchunks,
                lambda ch, j: F.struct(
                    F.array(
                        F.lit(TC_LCOL_X)
                        + (j % 2) * (TC_RCOL_X - TC_LCOL_X),
                        F.lit(BODY_TOP)
                        + (j - j % 2) / 2 * (BLOCK_H + BLOCK_GAP),
                        F.lit(TC_LCOL_X + TC_COL_W)
                        + (j % 2) * (TC_RCOL_X - TC_LCOL_X),
                        F.lit(BODY_TOP)
                        + (j - j % 2) / 2 * (BLOCK_H + BLOCK_GAP) + BLOCK_H,
                    ).cast("array<int>").alias("bbox"),
                    F.lit("Text").alias("category"),
                    ch.alias("text"),
                ),
            )
            ftr_cell = F.struct(
                F.array(F.lit(fx1), F.lit(fy1), F.lit(fx2), F.lit(fy2))
                 .alias("bbox"),
                F.lit("Page-footer").alias("category"),
                ft.alias("text"),
            )
            hdr_cell = F.struct(
                F.array(F.lit(hx1), F.lit(hy1), F.lit(hx2), F.lit(hy2))
                 .alias("bbox"),
                F.lit("Page-header").alias("category"),
                hd.alias("text"),
            )
            cells = F.concat(
                F.array(ftr_cell), text_cells, F.array(hdr_cell))
            return F.struct(
                p.cast("int").alias("page_no"),
                F.lit(PAGE_W).alias("width"),
                F.lit(PAGE_H).alias("height"),
                F.lit(1.0).alias("scale_factor"),
                F.to_json(cells).alias("payload"),
                F.lit(None).cast("string").alias("toc_json"),
                F.lit(None).cast("string").alias("words_json"),
            )

        return build

    pages = F.transform(
        F.sequence(F.lit(0), n_pages - 1), _page(chunks, did))
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        n_pages.alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


def interleaved_rich(docs: DataFrame, doc_id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Flat corpus → multi-page interleaved docs exercising the FULL
    cell-category taxonomy with md5-drawn content, so the Formula
    normalization branches (T1-T3, format_transformer.py:65-115), the
    Table HTML passthrough, and the Caption/Footnote/Title kinds all
    land under the external value oracle.

    Per page, below the corpus Text chunks: a Formula cell whose text
    hits one of four ``formula_in_markdown`` branches by draw
    (bare ``\\alpha_{h}`` command ⇒ ``$$``-wrap; ``$$ E = h $$`` ⇒
    inner re-wrap; ``\\[ x + h \\]`` ⇒ ``$$``-conversion; inline
    ``a $x_h$ b`` ⇒ returned as-is), a Table cell (``<table>`` HTML,
    rendered verbatim), a Caption, a Footnote, and a Title. Single
    column ⇒ reading order = payload order; every span and the page
    markdown are string algebra over the draws.
    """
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)
    n_chunks = F.size(chunks)
    n_pages = F.ceil(n_chunks / F.lit(MP_CHUNKS_PER_PAGE)).cast("int")

    def block_bbox(j):
        top = F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP)
        return F.array(
            F.lit(100), top, F.lit(PAGE_W - 100), top + BLOCK_H)

    def _cell(j, category, text):
        return F.struct(
            block_bbox(j).alias("bbox"),
            F.lit(category).alias("category"),
            text.alias("text"),
        )

    def _page(chunks_col: Column, did_col: Column):
        def build(p: Column) -> Column:
            def draw(salt):
                return F.substring(
                    F.md5(F.concat(did_col, F.lit(salt), p.cast("string"))),
                    1, 4)

            pchunks = F.slice(
                chunks_col, p * MP_CHUNKS_PER_PAGE + 1, MP_CHUNKS_PER_PAGE)
            text_cells = F.transform(
                pchunks,
                lambda ch, j: F.struct(
                    block_bbox(j).alias("bbox"),
                    F.lit("Text").alias("category"),
                    ch.alias("text"),
                ),
            )
            fd = _hex_draw(did_col, ":fb:", p, 1) % 4
            fh = draw(":fm:")
            formula_text = (
                F.when(fd == 0, F.concat(F.lit("\\alpha_{"), fh, F.lit("}")))
                .when(fd == 1, F.concat(F.lit("$$ E = "), fh, F.lit(" $$")))
                .when(fd == 2, F.concat(F.lit("\\[ x + "), fh, F.lit(" \\]")))
                .otherwise(F.concat(F.lit("a $x_"), fh, F.lit("$ b")))
            )
            # F5 probe: a Text cell overlapping the Title block at IoU
            # ≈ 0.993 (> the 0.9 threshold) — the SMALLER box, so the
            # IoU suppression must drop it before span emission. The
            # oracle never lists it: if suppression failed, the extra
            # span would break the row-count and value-hash compare.
            iou_top = F.lit(BODY_TOP) + 6 * (BLOCK_H + BLOCK_GAP)
            iou_cell = F.struct(
                F.array(F.lit(100), iou_top, F.lit(PAGE_W - 110),
                        iou_top + BLOCK_H).alias("bbox"),
                F.lit("Text").alias("category"),
                F.concat(F.lit("suppressed "), draw(":sp:")).alias("text"),
            )
            extra = F.array(
                _cell(F.lit(2), "Formula", formula_text),
                _cell(F.lit(3), "Table", F.concat(
                    F.lit("<table><tr><td>"), draw(":tb:"),
                    F.lit("</td></tr></table>"))),
                _cell(F.lit(4), "Caption", F.concat(F.lit("cap "), draw(":cp:"))),
                _cell(F.lit(5), "Footnote", F.concat(F.lit("fn "), draw(":fn:"))),
                _cell(F.lit(6), "Title", F.concat(F.lit("Ttl "), draw(":tt:"))),
                iou_cell,
            )
            return F.struct(
                p.cast("int").alias("page_no"),
                F.lit(PAGE_W).alias("width"),
                F.lit(PAGE_H).alias("height"),
                F.lit(1.0).alias("scale_factor"),
                F.to_json(F.concat(text_cells, extra)).alias("payload"),
                F.lit(None).cast("string").alias("toc_json"),
                F.lit(None).cast("string").alias("words_json"),
            )

        return build

    pages = F.transform(
        F.sequence(F.lit(0), n_pages - 1), _page(chunks, did))
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        n_pages.alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


def interleaved_wordgrain(docs: DataFrame, doc_id_col: str = "doc_id",
                          text_col: str = "text",
                          scale: int = 1) -> DataFrame:
    """Flat corpus → single-page interleaved docs whose Text cells carry
    NO text in the payload; the text arrives as a PDF-space word-box
    layer instead (``words_json``), so the extraction must run the J3
    bbox-clip fill to recover it. 100% JVM expressions and SQL-derivable:
    each ``MP_CHUNK_WORDS``-word chunk is one block laid out as a single
    line of fixed-pitch word rectangles inside its cell bbox, so the clip
    recovers exactly the chunk text and the DuckDB oracle can predict
    every span. The word entries are JSON objects (to_json of structs);
    the spec normalizes them to the positional fitz shape.

    ``scale`` > 1 renders the page at that factor: cell bboxes and the
    page extent are in IMAGE space (multiplied by ``scale``) while the
    word layer stays in PDF space, so the clip only recovers the text if
    the P4 ``bbox / scale_factor`` division runs (ocr_task.py:565) —
    putting the rescale path under the SAME external oracle (the output
    text is scale-invariant by construction)."""
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)

    def cell_bbox(j):
        top = F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP)
        return F.transform(
            F.array(F.lit(100), top, F.lit(PAGE_W - 100), top + BLOCK_H),
            lambda v: (v * scale).cast("int"),
        )

    cells = F.transform(
        chunks,
        lambda ch, j: F.struct(
            cell_bbox(j).alias("bbox"),
            F.lit("Text").alias("category"),
            F.lit(None).cast("string").alias("text"),
        ),
    )
    # word rectangles: block j's words on one line at fixed 14px pitch,
    # 10px wide, vertically inside the block band — always contained in
    # the cell bbox, so the clip selects exactly the chunk's words
    words = F.flatten(F.transform(
        chunks,
        lambda ch, j: F.transform(
            F.split(ch, " "),
            lambda w, i: F.struct(
                (F.lit(100) + i * 14).alias("x0"),
                (F.lit(BODY_TOP + 10) + j * (BLOCK_H + BLOCK_GAP)).alias("y0"),
                (F.lit(110) + i * 14).alias("x1"),
                (F.lit(BODY_TOP + 30) + j * (BLOCK_H + BLOCK_GAP)).alias("y1"),
                w.alias("word"),
                j.alias("block_no"),
                F.lit(0).alias("line_no"),
                i.alias("word_no"),
            ),
        ),
    ))
    # dynamic page height: a >170-word doc stacks more than PAGE_H of
    # blocks; growing the page keeps every cell AND word box inside the
    # extent (the bbox clamp would otherwise cut cells while the word
    # layer kept its coordinates, silently dropping clipped words)
    height = F.greatest(
        F.lit(PAGE_H),
        F.lit(BODY_TOP) + F.size(chunks) * (BLOCK_H + BLOCK_GAP) + F.lit(60),
    ).cast("int")
    pages = F.array(
        F.struct(
            F.lit(0).alias("page_no"),
            F.lit(PAGE_W * scale).alias("width"),
            (height * scale).cast("int").alias("height"),
            F.lit(float(scale)).alias("scale_factor"),
            F.to_json(cells).alias("payload"),
            F.lit(None).cast("string").alias("toc_json"),
            F.to_json(words).alias("words_json"),
        )
    )
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        F.lit(1).alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )


# ---- cleaner-probe generator knobs (interleaved_cleaner_probe) ------------
#: page-class draw: first hex nibble of md5(doc_id || ':cp:' || page_no).
#: < CP_DUP_BELOW      ⇒ A9/C3 dup-probe page (unparseable payload whose
#:                       repair routes through C3 exact-string dedup AND
#:                       the C7/A9 threshold dedup);
#: < CP_REGEX_BELOW    ⇒ C5 fallback-1 page (per-object regex re-parse);
#: < CP_SALVAGE_BELOW  ⇒ C5 fallback-2 page (single-truncated-object
#:                       salvage);
#: else                ⇒ plain wellformed control page.
CP_DUP_BELOW = 5
CP_REGEX_BELOW = 10
CP_SALVAGE_BELOW = 13
#: probe-cell bboxes — all full-width, stacked strictly below the body
#: blocks, mutually non-overlapping (the IoU pass must not interfere)
CP_CC_BBOX = (100, 1200, 1600, 1300)
CP_DUP_Y0, CP_DUP_STEP, CP_DUP_H = 1350, 60, 50
CP_BB_BBOX = (100, 1700, 1600, 1780)
#: the salvage page's single (truncated) cell bbox
CP_SALV_BBOX = (100, 150, 1600, 250)


def interleaved_cleaner_probe(docs: DataFrame, doc_id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Adversarial value probe for the repair rules that previously had
    only golden-test coverage — A9/C7 threshold dedup
    (``spec/cleaner.dedup_threshold``, ref output_cleaner.py:347-416),
    C3 exact-duplicate-dict removal (output_cleaner.py:222-254), and
    BOTH C5 parse fallbacks (output_cleaner.py:271-345) — built so the
    repaired output is SQL-predictable and the driver's DuckDB oracle
    value-checks each rule end to end.

    Every page carries the usual chunk Text cells; an md5 class draw
    then picks one of four payload shapes:

      * **dup probe** — the cell objects are ``;``-joined (json fails)
        and augmented with an EXACT duplicate pair (same string twice ⇒
        C3 removes one and rebuilds a parseable list), FIVE cells
        sharing (category, text) but not bbox (C3 cannot touch them ⇒
        only the A9 pair rule, threshold 5, collapses them to the
        first), and TWO cells sharing a bbox with different texts (the
        A9 bbox rule, threshold 2, keeps the first). The page degrades
        to one whole-page fallback cell whose text is the kept cells'
        texts joined with blank lines — one span whose md5 moves if any
        of C3 / A9-pair / A9-bbox is broken (the duplicates have equal
        areas, so the IoU pass can never mask a disabled dedup).
      * **regex probe** — the wellformed payload's object separators are
        rewritten ``},{`` → ``};{`` (json fails, C1 does not match, C3
        finds no duplicate so it must NOT rebuild) forcing C5
        fallback 1 to regex-extract every object; the fallback join
        equals the chunk join, and a broken extractor (e.g. degrading
        to the single-object salvage) drops all but the first chunk.
      * **salvage probe** — a single object truncated mid-``text``
        (C2 skips: one object; C4 appends ``]``) forcing C5 fallback 2;
        the salvaged text is the md5-drawn literal plus the ``]`` C4
        appended — pinning the exact regex capture semantics.
      * **control** — wellformed payload, one span per chunk.
    """
    did = F.col(doc_id_col).cast("string")
    chunks = chunk_words(F.col(text_col), MP_CHUNK_WORDS)
    n_chunks = F.size(chunks)
    n_pages = F.ceil(n_chunks / F.lit(MP_CHUNKS_PER_PAGE)).cast("int")

    def _obj(bbox, txt: Column) -> Column:
        x1, y1, x2, y2 = bbox
        return F.concat(
            F.lit('{"bbox": [%d, %d, %d, %d], "category": "Text", "text": "'
                  % (x1, y1, x2, y2)),
            txt, F.lit('"}'))

    def _page(chunks_col: Column, did_col: Column):
        def build(p: Column) -> Column:
            pchunks = F.slice(
                chunks_col, p * MP_CHUNKS_PER_PAGE + 1, MP_CHUNKS_PER_PAGE)
            text_cells = F.transform(
                pchunks,
                lambda ch, j: F.struct(
                    F.array(
                        F.lit(100),
                        F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP),
                        F.lit(PAGE_W - 100),
                        F.lit(BODY_TOP) + j * (BLOCK_H + BLOCK_GAP) + BLOCK_H,
                    ).alias("bbox"),
                    F.lit("Text").alias("category"),
                    ch.alias("text"),
                ),
            )
            base = F.to_json(text_cells)

            def _sl(salt: str) -> Column:
                return F.substring(
                    F.md5(F.concat(did_col, F.lit(salt), p.cast("string"))),
                    1, 8)

            cc_obj = _obj(CP_CC_BBOX, F.concat(F.lit("cc-"), _sl(":cc:")))
            dup_txt = F.concat(F.lit("dup-"), _sl(":dp:"))
            dup_objs = [
                _obj((100, CP_DUP_Y0 + j * CP_DUP_STEP, 1600,
                      CP_DUP_Y0 + j * CP_DUP_STEP + CP_DUP_H), dup_txt)
                for j in range(5)
            ]
            bb_objs = [
                _obj(CP_BB_BBOX, F.concat(F.lit(pre), _sl(":bb:")))
                for pre in ("bba-", "bbb-")
            ]
            parts = [base.substr(F.lit(1), F.length(base) - 1),
                     F.lit(";"), cc_obj, F.lit(";"), cc_obj]
            for o in dup_objs + bb_objs:
                parts += [F.lit(";"), o]
            parts.append(F.lit("]"))
            payload_dup = F.concat(*parts)

            payload_regex = F.regexp_replace(base, r'\},\{"', '};{"')

            x1, y1, x2, y2 = CP_SALV_BBOX
            payload_salvage = F.concat(
                F.lit('[{"bbox": [%d, %d, %d, %d], '
                      '"category": "Text", "text": "salv-' % (x1, y1, x2, y2)),
                _sl(":sv:"))

            cls = _hex_draw(did_col, ":cp:", p, 1)
            payload = (
                F.when(cls < CP_DUP_BELOW, payload_dup)
                .when(cls < CP_REGEX_BELOW, payload_regex)
                .when(cls < CP_SALVAGE_BELOW, payload_salvage)
                .otherwise(base)
            )
            return F.struct(
                p.cast("int").alias("page_no"),
                F.lit(PAGE_W).alias("width"),
                F.lit(PAGE_H).alias("height"),
                F.lit(1.0).alias("scale_factor"),
                payload.alias("payload"),
                F.lit(None).cast("string").alias("toc_json"),
                F.lit(None).cast("string").alias("words_json"),
            )

        return build

    pages = F.transform(
        F.sequence(F.lit(0), n_pages - 1), _page(chunks, did))
    return docs.select(
        did.alias("doc_id"),
        F.array().cast(_EMPTY_SPANS).alias("spans"),
        pages.alias("pages"),
        n_pages.alias("n_pages"),
        F.lit("normal").alias("size_class"),
    )
