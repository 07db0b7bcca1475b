"""Per-page extraction pipeline — the composition of the spec rules that
one page payload flows through. This is the single shared implementation
executed both inside the Spark ``mapInPandas`` stage and (via
``dots_ocr_spark.oracle``) in plain Python for golden tests.

Mirrors the reference pipeline path
(`/root/reference/app/utils/executor/ocr_task.py:518-634` — PipeOcrTask)
and the VLM post-processing
(`/root/reference/dots_ocr/utils/layout_utils.py:206-262`), with the three
neural models replaced by deterministic rules per the rebuild north-star:

  payload → JSON parse (repair chain on failure) → bbox validate/clamp →
  category remap → IoU suppression → TOC directory rebuild → XY-cut
  reading order → bbox rescale → Markdown fold → span emission.

Page statuses (analog of /root/reference/app/utils/executor/stats.py:23):
  ``ok``       — wellformed payload, full pipeline ran;
  ``fallback`` — unparseable payload degraded to a single whole-page Text
                 cell whose text is the repaired cells' text joined with
                 ``\\n\\n`` (layout_utils.py:216-223 + the whole-page
                 fallback cell of inference.py:235-253);
  ``failed``   — structurally illegal wellformed payload (missing/invalid
                 bbox or missing category ⇒ the reference raises and the
                 page ends failed after retries); contributes no spans.

Hostile payloads end in a status, never an exception, so one page cannot
abort the Spark task that holds it:
  * a cell whose ``category`` is not a string (``"category": 5``) →
    ``failed``;
  * a cell whose ``text`` the renderer cannot take — not a string, and
    truthy or on a Formula cell (``"text": 7``) → ``failed``. Falsy
    non-string texts of other cells render as "" and stay ``ok``;
  * a bbox coordinate that is NaN, ±inf or beyond the float range
    (``-Infinity``, ``1e400``, ``-10**400``) → ``failed``, wherever it
    sits: the rescale's ``int(float(v) / scale_factor)`` cannot take it;
  * nesting too deep for ``json.loads`` (100,000 ``[``) → ``fallback``:
    the repair chain treats the ``RecursionError`` as a parse failure;
  * an unparseable payload whose repair salvages a cell with a non-string
    text (``"text": 7`` then junk; ``["a"]`` or ``{"a": 1}`` before a
    truncated tail) → ``failed``: the degraded page only joins strings.
  * a lone surrogate (a ``"\\ud800"`` JSON escape) in any string the page
    emits — ``md``, ``md_nohf``, a span's text or ``media_ref``, wherever
    it came from (cell text, salvaged fallback text, word layer) →
    ``failed``: Arrow's UTF-8 string type cannot carry it.
The first two checks look at the payload as given, so they also fail a page
whose offending cell a later rule would have dropped (IoU suppression) or
rewritten (word fill, TOC rebuild).
"""

from __future__ import annotations

import hashlib
import json

from . import cleaner, geometry, render, toc as toc_mod
from . import words as words_mod
from .xycut import reading_order

PICTURE = "Picture"

#: header categories used for the TOC rebuild on the pipeline path
#: (ocr_task.py:575); the VLM path uses headers.DEFAULT_HEADER_CATEGORIES.
PIPELINE_HEADER_CATEGORIES = ["Section-header", "List-item"]


def media_ref_for(doc_id: str, page_no: int, bbox) -> str:
    """Deterministic crop identity for a Picture cell without an explicit
    media reference — the analog of the reference's cropped-region identity
    (P7, ocr_task.py:150-155)."""
    key = f"{doc_id}:{page_no}:{int(bbox[0])},{int(bbox[1])},{int(bbox[2])},{int(bbox[3])}"
    return "crop-" + hashlib.md5(key.encode("utf-8")).hexdigest()[:16]


def _fallback_page(payload, width: int, height: int) -> list[dict] | None:
    """Degraded single-cell page for an unparseable payload; None (the page
    fails) when a salvaged cell's text is not a string."""
    texts = [cell["text"] for cell in cleaner.clean_model_output(payload)
             if isinstance(cell, dict) and "text" in cell]
    if not all(isinstance(t, str) for t in texts):
        return None
    return [{"bbox": [0, 0, width, height], "category": "Text",
             "text": "\n\n".join(texts)}]


def _renderable(cell) -> bool:
    """Whether ``render.render_cell_markdown`` can take the cell's text: a
    string (or none at all), or for a non-Formula cell any falsy value,
    which it renders as ""."""
    text = cell.get("text", "")
    if isinstance(text, str):
        return True
    category = cell["category"]
    if category == "Formula" or geometry.CATEGORY_REMAP.get(category) == "Formula":
        return False
    return not text


def _failed_page(width, height, scale_factor) -> dict:
    """The result of a page that ends ``failed``: no cells, no spans."""
    return {
        "status": "failed",
        "cells": [],
        "width": int(float(width) / scale_factor),
        "height": int(float(height) / scale_factor),
        "md": "",
        "md_nohf": "",
        "spans": [],
    }


def _validate_cells(cells, width, height):
    """F1 + P5 — reject structurally illegal pages, clamp the legal ones.

    Ref: layout_utils.py:226-239 (raises on illegality → page failure) and
    the downstream hard requirement for ``category``.
    Returns the clamped cell list or None when the page must fail.
    """
    if not isinstance(cells, list):
        return None
    out = []
    for cell in cells:
        if not isinstance(cell, dict) or "bbox" not in cell or "category" not in cell:
            return None
        if not geometry.bbox_is_legal(cell["bbox"]):
            return None
        if not isinstance(cell["category"], str) or not _renderable(cell):
            return None
        c = dict(cell)
        c["bbox"] = geometry.clamp_bbox(c["bbox"], width, height)
        out.append(c)
    return out


def process_page(
    payload,
    width: int,
    height: int,
    doc_id: str = "",
    page_no: int = 0,
    scale_factor: float = 1.0,
    toc=None,
    mode: str = "pipeline",
    words=None,
) -> dict:
    """Run one page through the full extraction pipeline.

    Args:
      payload: VLM-style page payload — JSON string (possibly malformed)
        or an already-parsed cell list.
      width/height: rendered page extent (image space).
      scale_factor: rasterization scale (dpi/72); output bboxes and page
        extent are divided by it (page_parser.py:184-192).
      toc: this page's TOC entries — None (no TOC), [] (structured doc,
        empty page), or a list of {level, text, to} dicts.
      mode: ``pipeline`` (remap + IoU suppression + XY-cut order, the
        rebuild default) or ``vlm`` (payload order trusted, no remap).
      words: optional PDF-space word-box layer (the fitz
        ``get_text("words")`` shape) — when present, every wellformed
        non-Table/Picture/Formula cell's text is filled by rectangle
        containment at ``bbox / scale_factor`` (J3,
        ocr_task.py:558-568).

    Returns a dict with keys: ``status``, ``cells`` (final order, rescaled),
    ``width``, ``height``, ``md``, ``md_nohf``, ``spans``
    (list of {kind, text, media_ref} in reading order).
    """
    # 1. parse / repair ------------------------------------------------
    status = "ok"
    if isinstance(payload, list):
        cells = payload
    else:
        try:
            cells = json.loads(payload)
            if not isinstance(cells, list):
                raise ValueError("payload is not a JSON array")
        except Exception:
            cells = _fallback_page(payload, width, height)
            status = "fallback"

    # 2. validate + clamp ----------------------------------------------
    validated = _validate_cells(cells, width, height)
    if validated is None:
        return _failed_page(width, height, scale_factor)
    cells = validated

    if mode == "pipeline":
        # 3. category remap (P9) + IoU suppression (F5) ----------------
        for c in cells:
            c["category"] = geometry.remap_category(c["category"])
        cells = geometry.exclude_overlap_boxes(cells)

        # 3b. word-grain bbox-clip text fill (J3) ----------------------
        # only for wellformed payloads: the fallback path's degraded cell
        # already carries the repaired text (inference.py:235-253) and the
        # reference's clip runs on detected blocks, not fallbacks.
        if words is not None and status == "ok":
            words_mod.fill_cell_texts(cells, words, scale_factor)

    # 4. TOC directory rebuild (J1/O5) ----------------------------------
    header_cats = (
        PIPELINE_HEADER_CATEGORIES
        if mode == "pipeline"
        else toc_mod.H.DEFAULT_HEADER_CATEGORIES
    )
    cells = toc_mod.apply_toc_rebuild(cells, toc, categories=header_cats)

    # 5. reading order (O1) ---------------------------------------------
    if mode == "pipeline" and status == "ok":
        order = reading_order([c["bbox"] for c in cells],
                              [c["category"] for c in cells])
        cells = [cells[i] for i in order]

    # 6. rescale to source space (P4) ------------------------------------
    if scale_factor != 1.0:
        for c in cells:
            c["bbox"] = geometry.divide_bbox(c["bbox"], scale_factor)
    out_width = int(float(width) / scale_factor)
    out_height = int(float(height) / scale_factor)

    # 7. render (A3/F3): each cell once; the page Markdown and its nohf
    # variant are joins of the rendered items (cells_to_markdown's fold)
    rendered = [render.render_cell_markdown(c) for c in cells]
    md = "\n\n".join(rendered)
    md_nohf = "\n\n".join(
        text for c, text in zip(cells, rendered)
        if c.get("category") not in render.PAGE_HF_CATEGORIES
    )

    # 8. span emission -----------------------------------------------------
    spans = []
    for c, text in zip(cells, rendered):
        category = c.get("category", "")
        if category == PICTURE:
            ref = c.get("media_ref") or media_ref_for(doc_id, page_no, c["bbox"])
            spans.append({"kind": category.lower(), "text": None, "media_ref": ref})
        else:
            spans.append(
                {"kind": category.lower(), "text": text, "media_ref": None}
            )

    # 9. every emitted string must encode as UTF-8: md_nohf and each span's
    # text are parts of md, so md and the Picture refs cover them all -----
    try:
        md.encode("utf-8")
        for sp in spans:
            if isinstance(sp["media_ref"], str):
                sp["media_ref"].encode("utf-8")
    except UnicodeEncodeError:
        return _failed_page(width, height, scale_factor)

    return {
        "status": status,
        "cells": cells,
        "width": out_width,
        "height": out_height,
        "md": md,
        "md_nohf": md_nohf,
        "spans": spans,
    }
