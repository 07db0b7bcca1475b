"""Bbox algebra (P4-P5, F1, F5, P9).

Deterministic re-implementation of:
  - bbox validate/clamp /root/reference/dots_ocr/utils/layout_utils.py:226-239
  - IoU suppression     /root/reference/dots_ocr/model/layout_service.py:59-85
  - category remap      /root/reference/dots_ocr/model/layout_service.py:43-57
"""

from __future__ import annotations

import sys

import numpy as np

_FLOAT_MAX = sys.float_info.max

#: Paddle-style layout labels → the 11-class dots taxonomy; unknown labels
#: pass through (layout_service.py:43-57).
CATEGORY_REMAP = {
    "doc_title": "Title",
    "paragraph_title": "Section-header",
    "text": "Text",
    "number": "Text",
    "page_number": "Text",
    "header": "Page-header",
    "footer": "Page-footer",
    "formula": "Formula",
    "formula_number": "Text",
    "table": "Table",
    "figure": "Picture",
}


def divide_bbox(bbox, scale_factor: float) -> list[int]:
    """P4 — uniform division by a rasterization scale factor.

    Ref: page_parser.py:184-186 (``int(float(num) / scale_factor)``).
    """
    return [int(float(v) / scale_factor) for v in bbox]


def bbox_is_legal(bbox) -> bool:
    """F1 — list of 4 finite numbers with x0 < x1 and y0 < y1.

    ``abs(v) <= sys.float_info.max`` rejects NaN, ±inf and ints too large
    for a float in one comparison (``math.isfinite`` raises on those
    ints); any of them would otherwise raise in a later ``int(float(v))``.

    Ref: layout_utils.py:229-233.
    """
    return (
        isinstance(bbox, list)
        and len(bbox) == 4
        and all(isinstance(v, (int, float)) and not isinstance(v, bool)
                and abs(v) <= _FLOAT_MAX for v in bbox)
        and bbox[0] < bbox[2]
        and bbox[1] < bbox[3]
    )


def clamp_bbox(bbox, width, height) -> list:
    """P5 — clamp x2/y2 to the page extent (x1/y1 untouched).

    Ref: layout_utils.py:234-239.
    """
    out = list(bbox)
    if out[2] > width:
        out[2] = width
    if out[3] > height:
        out[3] = height
    return out


def iou(box1, box2) -> float:
    """Intersection-over-union of two [x1,y1,x2,y2] boxes.

    Ref: layout_service.py:66-76.
    """
    x1 = max(box1[0], box2[0])
    y1 = max(box1[1], box2[1])
    x2 = min(box1[2], box2[2])
    y2 = min(box1[3], box2[3])
    inter_area = max(0, x2 - x1) * max(0, y2 - y1)
    a1 = (box1[2] - box1[0]) * (box1[3] - box1[1])
    a2 = (box2[2] - box2[0]) * (box2[3] - box2[1])
    union = a1 + a2 - inter_area
    return inter_area / union if union > 0 else 0.0


def exclude_overlap_boxes(cells: list[dict], iou_threshold: float = 0.9) -> list[dict]:
    """F5 — NMS-lite: for any pair with IoU > threshold drop the smaller box.

    Ref: layout_service.py:59-85 (O(n²) pairwise; n is tens per page).
    Order of survivors is preserved. Vectorized over the full pair matrix
    — coordinates are small ints, so the numpy float64 ratios are
    bit-identical to Python's int/int division and the drop decisions
    match the scalar form exactly.
    """
    n = len(cells)
    if n <= 1:
        return list(cells)
    b = np.array([c["bbox"] for c in cells], dtype=np.float64)
    areas = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    x1 = np.maximum(b[:, None, 0], b[None, :, 0])
    y1 = np.maximum(b[:, None, 1], b[None, :, 1])
    x2 = np.minimum(b[:, None, 2], b[None, :, 2])
    y2 = np.minimum(b[:, None, 3], b[None, :, 3])
    inter = np.maximum(x2 - x1, 0.0) * np.maximum(y2 - y1, 0.0)
    union = areas[:, None] + areas[None, :] - inter
    iou_m = np.divide(inter, union, out=np.zeros_like(inter),
                      where=union > 0)
    overlap = iou_m > iou_threshold
    np.fill_diagonal(overlap, False)
    remove = (overlap & (areas[:, None] < areas[None, :])).any(axis=1)
    return [c for idx, c in enumerate(cells) if not remove[idx]]


def remap_category(label: str) -> str:
    """P9 — Paddle label → dots category; unknown labels pass through."""
    return CATEGORY_REMAP.get(label, label)
