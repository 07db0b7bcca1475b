"""O1 — deterministic reading-order sort (recursive XY-cut + column
detection).

Replaces the reference's learned ordering model
(`/root/reference/dots_ocr/model/layout_service.py:187-235`,
``reader_helper.parse_logits``) with a deterministic geometric algorithm,
per the rebuild's north-star. Contract properties preserved from the
reference path (`/root/reference/dots_ocr/ocr_task.py:582-600`):

  - output is a permutation of input indices;
  - any internal failure degrades to identity order
    (layout_service.py:232-234's fallback);
  - Page-header cells sort first and Page-footer cells last, matching the
    visual convention assumed by the nohf filter
    (`format_transformer.py:164-165`).

Algorithm (body cells):
  1. try vertical cuts first: gaps in the merged x-interval projection
     split the region into left-to-right columns — column-priority is the
     human reading convention for multi-column pages (a full-width span
     blocks the cut, so mixed pages fall through to bands);
  2. else try horizontal cuts: gaps in the merged y-interval projection
     split the region into top-to-bottom bands;
  3. else peel the top-left-most box (min (y1, x1, idx)), emit it, and
     recurse on the remainder — this resolves full-width spans sitting
     flush against multi-column bodies and guarantees termination.

Pure Python over index lists; page cell counts are tens, so O(n log n)
per page inside an Arrow batch.
"""

from __future__ import annotations

HEADER_CATEGORY = "Page-header"
FOOTER_CATEGORY = "Page-footer"


def _merged_gaps(intervals: list[tuple[float, float]]) -> list[float]:
    """Cut positions: midpoints of gaps between merged intervals."""
    if not intervals:
        return []
    ivs = sorted(intervals)
    cuts = []
    cur_end = ivs[0][1]
    for lo, hi in ivs[1:]:
        if lo > cur_end:
            cuts.append((cur_end + lo) / 2.0)
        cur_end = max(cur_end, hi)
    return cuts


def _split(indices: list[int], boxes, axis: int) -> list[list[int]]:
    """Split indices into groups along axis (0=x vertical cut, 1=y
    horizontal cut). Returns [indices] when no gap exists."""
    intervals = [(boxes[i][axis], boxes[i][axis + 2]) for i in indices]
    cuts = _merged_gaps(intervals)
    if not cuts:
        return [indices]
    groups: list[list[int]] = [[] for _ in range(len(cuts) + 1)]
    for i in indices:
        lo = boxes[i][axis]
        g = 0
        while g < len(cuts) and lo > cuts[g]:
            g += 1
        groups[g].append(i)
    return [g for g in groups if g]


def _xycut(indices: list[int], boxes, out: list[int]) -> None:
    if len(indices) <= 1:
        out.extend(indices)
        return

    # 1. vertical cut (left-to-right columns) — column-priority
    cols = _split(indices, boxes, axis=0)
    if len(cols) > 1:
        for col in cols:
            _xycut(col, boxes, out)
        return

    # 2. horizontal cut (top-to-bottom bands)
    bands = _split(indices, boxes, axis=1)
    if len(bands) > 1:
        for band in bands:
            _xycut(band, boxes, out)
        return

    # 3. peel the top-left-most box and recurse
    first = min(indices, key=lambda i: (boxes[i][1], boxes[i][0], i))
    out.append(first)
    _xycut([i for i in indices if i != first], boxes, out)


def reading_order(boxes: list, categories: list | None = None) -> list[int]:
    """Full-page reading order: Page-header cells first (by y1, x1, idx),
    XY-cut over the body, Page-footer cells last (by y1, x1, idx).

    Degrades to identity order on any internal error, mirroring the
    reference's fallback (layout_service.py:232-234).
    """
    n = len(boxes)
    if n <= 1:
        return list(range(n))
    try:
        cats = categories if categories is not None else [""] * n
        headers = [i for i in range(n) if cats[i] == HEADER_CATEGORY]
        footers = [i for i in range(n) if cats[i] == FOOTER_CATEGORY]
        taken = set(headers) | set(footers)
        body = [i for i in range(n) if i not in taken]

        def _pos_key(i: int):
            return (boxes[i][1], boxes[i][0], i)

        headers.sort(key=_pos_key)
        footers.sort(key=_pos_key)
        ordered_body: list[int] = []
        _xycut(body, boxes, ordered_body)
        order = headers + ordered_body + footers
        assert sorted(order) == list(range(n))
        return order
    except Exception:
        return list(range(n))
