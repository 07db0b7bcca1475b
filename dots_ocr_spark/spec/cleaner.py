"""Output-repair rules (C1-C7).

Deterministic re-implementation of the reference cleaner semantics
(`/root/reference/dots_ocr/utils/output_cleaner.py:37-435`): given a raw
model-style payload (JSON string or already-parsed list), repair it into a
list of layout-cell dicts while preserving first-occurrence order.

Pure functions over strings/lists — safe to call from pandas UDF batches.
"""

from __future__ import annotations

import json
import re
from contextlib import suppress
from typing import Any, Optional

# Regex shapes per /root/reference/dots_ocr/utils/output_cleaner.py:37-39
_DICT_PATTERN = re.compile(r'\{[^{}]*?"bbox"\s*:\s*\[[^\]]*?\][^{}]*?\}', re.DOTALL)
_BBOX_PATTERN = re.compile(r'"bbox"\s*:\s*\[([^\]]+)\]')
_MISSING_DELIMITER_PATTERN = re.compile(r'\}\s*\{(?!")')

#: tail-truncation threshold (output_cleaner.py:191-195)
MAX_WELLFORMED_LEN = 50_000
#: (category, text) pairs occurring this many times or more are deduped
#: to their first occurrence (output_cleaner.py:379-385)
CATEGORY_TEXT_DUP_THRESHOLD = 5
#: identical bboxes occurring this many times or more are deduped
#: to their first occurrence (output_cleaner.py:390-398)
BBOX_DUP_THRESHOLD = 2


def fix_missing_delimiters(text: str) -> tuple[str, int]:
    """C1 — ``}\\s*{`` (not followed by ``"``) becomes ``},{``.

    Ref: output_cleaner.py:171-186.
    """
    fixed, n = _MISSING_DELIMITER_PATTERN.subn("},{", text)
    return fixed, n


def truncate_last_incomplete_element(text: str) -> tuple[str, bool]:
    """C2 — drop a trailing incomplete object from an over-long or
    unterminated payload.

    Ref: output_cleaner.py:188-220. Triggers when len > 50k or the payload
    does not end with ``]``; skipped when there is at most one
    ``{"bbox":`` object (to avoid deleting all content).
    """
    needs_truncation = len(text) > MAX_WELLFORMED_LEN or not text.strip().endswith("]")
    if not needs_truncation:
        return text, False
    if text.count('{"bbox":') <= 1:
        return text, False
    last_bbox_pos = text.rfind('{"bbox":')
    if last_bbox_pos <= 0:
        return text, False
    truncated = text[:last_bbox_pos].rstrip()
    if truncated.endswith(","):
        truncated = truncated[:-1]
    return truncated, True


def remove_duplicate_complete_dicts(text: str) -> tuple[str, int]:
    """C3 — regex-extract complete cell objects, keep first occurrence of
    each exact duplicate, rebuild ``[a, b, ...]``.

    Ref: output_cleaner.py:222-254. Note the reference only rebuilds the
    payload when at least one duplicate was found; otherwise the input text
    passes through untouched.
    """
    matches = [m.group() for m in _DICT_PATTERN.finditer(text)]
    if not matches:
        return text, 0
    seen: set[str] = set()
    unique: list[str] = []
    dups = 0
    for s in matches:
        if s in seen:
            dups += 1
        else:
            seen.add(s)
            unique.append(s)
    if dups > 0:
        return "[" + ", ".join(unique) + "]", dups
    return text, 0


def ensure_json_format(text: str) -> str:
    """C4 — wrap with ``[``/``]``, strip a trailing comma.

    Ref: output_cleaner.py:256-269.
    """
    text = text.strip()
    if not text.startswith("["):
        text = "[" + text
    if not text.endswith("]"):
        text = text.rstrip(",").rstrip()
        text += "]"
    return text


def _handle_single_incomplete_dict(text: str) -> Optional[list[dict]]:
    """C5 fallback 2 — salvage a single truncated cell.

    Ref: output_cleaner.py:301-345. Extracts the bbox (must be 4 ints),
    category (default ``Text``), and the first <=10000 chars of text.
    """
    if not text.strip().startswith('[{"bbox":'):
        return None
    try:
        bbox_match = _BBOX_PATTERN.search(text)
        if not bbox_match:
            return None
        bbox_coords = [int(x.strip()) for x in bbox_match.group(1).split(",")]
        if len(bbox_coords) != 4:
            return None
        category_match = re.search(r'"category"\s*:\s*"([^"]+)"', text)
        category = category_match.group(1) if category_match else "Text"
        text_match = re.search(r'"text"\s*:\s*"([^"]{0,10000})', text)
        text_content = text_match.group(1) if text_match else ""
        fixed: dict[str, Any] = {"bbox": bbox_coords, "category": category}
        if text_content:
            fixed["text"] = text_content
        return [fixed]
    except Exception:
        return None


def parse_final_json(text: str) -> Optional[list[dict]]:
    """C5 — parse with two fallbacks (per-object regex parse, then
    single-incomplete-object salvage).

    Ref: output_cleaner.py:271-299.
    """
    try:
        data = json.loads(text)
        if isinstance(data, list):
            # scalar/garbage elements inside a parseable list are dropped
            # (the reference's list path does the same via its item-shape
            # gate, output_cleaner.py:43-107)
            return [x for x in data if isinstance(x, dict)]
        return None
    except (json.JSONDecodeError, ValueError, RecursionError):
        valid: list[dict] = []
        for m in _DICT_PATTERN.finditer(text):
            try:
                valid.append(json.loads(m.group()))
            except Exception:
                continue
        if valid:
            return valid
        return _handle_single_incomplete_dict(text)


def clean_list_payload(data: list) -> list[dict]:
    """C6 — normalize an already-parsed list payload.

    Ref: output_cleaner.py:43-107. Non-dict items are dropped; a
    3-coordinate bbox is removed (category/text kept when present); a
    4-coordinate bbox passes through; other bbox shapes drop the item;
    items without a bbox are kept iff they carry a category.
    """
    cleaned: list[dict] = []
    for item in data:
        if not isinstance(item, dict):
            continue
        if "bbox" in item:
            bbox = item["bbox"]
            if isinstance(bbox, list) and len(bbox) == 3:
                new_item = {}
                if "category" in item:
                    new_item["category"] = item["category"]
                if "text" in item:
                    new_item["text"] = item["text"]
                if new_item:
                    cleaned.append(new_item)
                continue
            elif isinstance(bbox, list) and len(bbox) == 4:
                cleaned.append(dict(item))
                continue
            else:
                continue
        else:
            if "category" in item:
                cleaned.append(dict(item))
    return cleaned


def clean_string_payload(text: str) -> tuple[list[dict], bool]:
    """C1→C5 repair chain for a string payload.

    Ref: output_cleaner.py:109-169. Returns ``(cells, success)``;
    ``success=False`` yields an empty list (the reference's failed case).
    """
    text, _ = fix_missing_delimiters(text)
    text, _ = truncate_last_incomplete_element(text)
    text, _ = remove_duplicate_complete_dicts(text)
    text = ensure_json_format(text)
    final = parse_final_json(text)
    if final is None:
        return [], False
    return final, True


def dedup_threshold(cells: list[dict]) -> list[dict]:
    """C7/A9 — threshold dedup, first occurrence kept, order preserved.

    Ref: output_cleaner.py:347-416. ``(category, text)`` pairs occurring
    >= 5 times and identical bboxes occurring >= 2 times are reduced to
    their first occurrence.
    """
    if not cells or len(cells) <= 1:
        return cells

    pair_positions: dict[tuple, list[int]] = {}
    bbox_positions: dict[tuple, list[int]] = {}
    # a key holding a JSON list or object is unhashable: never a duplicate
    for i, item in enumerate(cells):
        if isinstance(item, dict) and "category" in item and "text" in item:
            key = (item.get("category", ""), item.get("text", ""))
            with suppress(TypeError):
                pair_positions.setdefault(key, []).append(i)
        if isinstance(item, dict) and "bbox" in item:
            bbox = item.get("bbox")
            if isinstance(bbox, list) and len(bbox) > 0:
                with suppress(TypeError):
                    bbox_positions.setdefault(tuple(bbox), []).append(i)

    to_remove: set[int] = set()
    for positions in pair_positions.values():
        if len(positions) >= CATEGORY_TEXT_DUP_THRESHOLD:
            to_remove.update(positions[1:])
    for positions in bbox_positions.values():
        if len(positions) >= BBOX_DUP_THRESHOLD:
            to_remove.update(positions[1:])

    if not to_remove:
        return cells
    return [item for i, item in enumerate(cells) if i not in to_remove]


def clean_model_output(payload) -> list[dict]:
    """Full repair pipeline on a raw payload (list or string).

    Ref: output_cleaner.py:418-435 (``clean_model_output``): list payloads
    go through C6; string payloads through C1-C5; both then through the
    threshold dedup C7. A failed string repair returns ``[]``.
    """
    if isinstance(payload, list):
        cells = clean_list_payload(payload)
        success = True
    else:
        cells, success = clean_string_payload(str(payload))
    if success and cells:
        cells = dedup_threshold(cells)
    return cells
