"""PDF → page-image rasterization (SURVEY S1/S2): the import-gated real
path plus a deterministic stub, sharing ONE page-iteration and dpi
spec so the stub tests pin the real path's logic on containers without
PDF libs.

Reference behavior mirrored (NOT code-copied — the analog is
/root/reference/dots_ocr/utils/doc_utils.py:28-93):

  * render matrix = dpi/72 in both axes, default dpi 200, no alpha;
  * if the rendered pixmap exceeds 4500 px in either axis, re-render at
    the fitz default dpi 72 (matrix 1.0) — a giant-page guard;
  * the returned ``scale_factor`` is ``dpi / 72`` EVEN when the 4500 px
    fallback re-rendered at dpi 72 (the reference returns
    ``target_dpi / 72`` unconditionally, doc_utils.py:49 — downstream
    geometry division was tuned against that behavior, so we reproduce
    it rather than "fix" it; ``fell_back`` is emitted so a caller who
    wants the true ratio can recover it);
  * page selection: ``start_page_id``..``end_page_id`` inclusive, a
    negative/None end meaning last page, an out-of-range end clamped to
    the last page, and ``exclude_pages`` skipped inside the range
    (iter_images_from_pdf semantics).

Spark shape: one PDF (binary column) in → one row PER PAGE out via an
Arrow-batched ``mapInPandas`` — the same fused, zero-shuffle grain as
the extraction pipeline; a giant PDF's pages land in one task, which is
exactly the skew the scatter / page-checkpoint machinery downstream already
handles (pipeline.extract_scatter, checkpoint.run_extraction_paged).

Real backends, import-gated exactly like ``textops._decode_real``:
PyMuPDF (``fitz``) first, ``pypdfium2`` as the fallback — whichever
imports wins; neither ships in this container, so tests for them are
conditional skips and the stub is the default everywhere else.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DPI = 200
#: giant-page guard: rendered pixmaps larger than this in either axis
#: are re-rendered at dpi 72 (reference doc_utils.py:43)
MAX_RENDER_PX = 4500

PAGE_SCHEMA = (
    "doc_id long, page_no int, width int, height int, "
    "scale_factor double, fell_back boolean, page_png binary, "
    "renderer string"
)


def page_indices(page_count: int, start_page_id: int = 0,
                 end_page_id: int | None = None,
                 exclude_pages: frozenset[int] | set[int] = frozenset(),
                 ) -> list[int]:
    """THE page-selection rule, shared by every backend (stub and real):
    inclusive start..end, None/negative end = last page, out-of-range
    end clamped, excluded indices skipped."""
    if page_count <= 0:
        return []
    end = (end_page_id if end_page_id is not None and end_page_id >= 0
           else page_count - 1)
    end = min(end, page_count - 1)
    return [i for i in range(start_page_id, end + 1)
            if i not in exclude_pages]


def render_dims(native_w: int, native_h: int, dpi: int = DEFAULT_DPI,
                ) -> tuple[int, int, float, bool]:
    """THE dpi arithmetic, shared by every backend: scale the native
    (dpi-72) page size by dpi/72, fall back to the native size when the
    result exceeds MAX_RENDER_PX in either axis. Returns
    (width, height, scale_factor, fell_back); scale_factor is dpi/72
    even on fallback — the reference-quirk contract documented in the
    module docstring."""
    s = dpi / 72.0
    w, h = round(native_w * s), round(native_h * s)
    if w > MAX_RENDER_PX or h > MAX_RENDER_PX:
        return native_w, native_h, s, True
    return w, h, s, False


def _stub_native_dims(payload: bytes, page_no: int) -> tuple[int, int]:
    """Deterministic native (dpi-72) page size from the payload hash —
    the rasterizer analog of ``textops.stub_dims``. Spread wide enough
    that some pages trip the MAX_RENDER_PX fallback at dpi 200 (native
    > 1620 px ⇒ rendered > 4500), so the fallback arithmetic is
    exercised by ordinary corpora, not just a crafted test."""
    h8 = hashlib.md5(payload + b":pg:%d" % page_no).digest()
    return 400 + h8[0] * 8, 500 + h8[1] * 8


def _stub_page_count(payload: bytes) -> int:
    return 1 + hashlib.md5(payload).digest()[0] % 4


def _rasterize_stub(payload: bytes, dpi: int, start_page_id: int,
                    end_page_id: int | None,
                    exclude_pages: frozenset[int]) -> list[dict]:
    rows = []
    for idx in page_indices(_stub_page_count(payload), start_page_id,
                            end_page_id, exclude_pages):
        nw, nh = _stub_native_dims(payload, idx)
        w, h, s, fb = render_dims(nw, nh, dpi)
        rows.append({
            "page_no": idx, "width": w, "height": h, "scale_factor": s,
            "fell_back": fb,
            "page_png": hashlib.md5(
                payload + b":png:%d:%d" % (idx, dpi)).digest(),
            "renderer": "stub",
        })
    return rows


def _rasterize_fitz(payload: bytes, dpi: int, start_page_id: int,
                    end_page_id: int | None,
                    exclude_pages: frozenset[int]) -> list[dict]:
    """PyMuPDF path (runs wherever fitz exists — zero code change, pass
    ``renderer='real'``)."""
    import fitz

    rows = []
    with fitz.open(stream=payload, filetype="pdf") as doc:
        for idx in page_indices(doc.page_count, start_page_id,
                                end_page_id, exclude_pages):
            page = doc[idx]
            s = dpi / 72.0
            pm = page.get_pixmap(matrix=fitz.Matrix(s, s), alpha=False)
            fell_back = pm.width > MAX_RENDER_PX or pm.height > MAX_RENDER_PX
            if fell_back:
                pm = page.get_pixmap(matrix=fitz.Matrix(1, 1), alpha=False)
            rows.append({
                "page_no": idx, "width": pm.width, "height": pm.height,
                "scale_factor": s, "fell_back": fell_back,
                "page_png": pm.tobytes("png"), "renderer": "fitz",
            })
    return rows


def _rasterize_pdfium(payload: bytes, dpi: int, start_page_id: int,
                      end_page_id: int | None,
                      exclude_pages: frozenset[int]) -> list[dict]:
    """pypdfium2 fallback backend; same contract as the fitz path (the
    4500 px guard applies to the scaled render, fallback re-renders at
    scale 1)."""
    import io

    import pypdfium2 as pdfium

    rows = []
    pdf = pdfium.PdfDocument(payload)
    try:
        for idx in page_indices(len(pdf), start_page_id, end_page_id,
                                exclude_pages):
            page = pdf[idx]
            s = dpi / 72.0
            w, h, s_out, fell_back = render_dims(
                round(page.get_width()), round(page.get_height()), dpi)
            im = page.render(scale=1.0 if fell_back else s).to_pil()
            buf = io.BytesIO()
            im.save(buf, format="PNG")
            rows.append({
                "page_no": idx, "width": im.width, "height": im.height,
                "scale_factor": s_out, "fell_back": fell_back,
                "page_png": buf.getvalue(), "renderer": "pdfium",
            })
    finally:
        pdf.close()
    return rows


def real_backend():
    """First importable real backend, else None (this container: None)."""
    try:
        import fitz  # noqa: F401
        return _rasterize_fitz
    except ImportError:
        pass
    try:
        import pypdfium2  # noqa: F401
        return _rasterize_pdfium
    except ImportError:
        return None


def _rasterize_batches_with(rasterize, dpi, start_page_id, end_page_id,
                            exclude_pages):
    exclude_pages = frozenset(exclude_pages)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"].tolist(),
                                       pdf["pdf_bytes"].tolist()):
                for p in rasterize(bytes(payload), dpi, start_page_id,
                                   end_page_id, exclude_pages):
                    rows.append((doc_id, p["page_no"], p["width"],
                                 p["height"], p["scale_factor"],
                                 p["fell_back"], p["page_png"],
                                 p["renderer"]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "page_no", "width", "height", "scale_factor",
                "fell_back", "page_png", "renderer"])
    return _run


def rasterize_pdfs(docs: DataFrame, pdf_col: str = "pdf_bytes",
                   renderer: str = "stub", dpi: int = DEFAULT_DPI,
                   start_page_id: int = 0, end_page_id: int | None = None,
                   exclude_pages=frozenset()) -> DataFrame:
    """(doc_id, pdf_bytes) → one row per rendered page. ``renderer``:
    ``'stub'`` (deterministic, any container) or ``'real'`` (first of
    fitz/pypdfium2 that imports; raises where neither exists). The
    output page grain feeds ``pipeline.parse_pages_exploded`` /
    ``checkpoint.run_extraction_paged`` directly."""
    if renderer == "real":
        backend = real_backend()
        if backend is None:
            raise ImportError(
                "renderer='real' needs PyMuPDF (fitz) or pypdfium2; "
                "neither is importable here — use renderer='stub'")
    else:
        backend = _rasterize_stub
    media = docs.select("doc_id", F.col(pdf_col).alias("pdf_bytes"))
    return media.mapInPandas(
        _rasterize_batches_with(backend, dpi, start_page_id, end_page_id,
                                exclude_pages),
        schema=PAGE_SCHEMA)
