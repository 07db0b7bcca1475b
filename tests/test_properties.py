"""Property-based gates (hypothesis) over the shared spec rules: the
oracle and the Spark UDFs run this exact code, so invariants proven here
hold for the whole engine."""

import copy
import json

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from dots_ocr_spark import schemas
from dots_ocr_spark.fixtures import generate_docs
from dots_ocr_spark.spec.cleaner import clean_model_output
from dots_ocr_spark.spec.page import process_page
from dots_ocr_spark.spec.toc import indel_ratio
from dots_ocr_spark.spec.xycut import reading_order

# --------------------------------------------------------------------------
# indel_ratio == the O(n·m) DP it replaced
# --------------------------------------------------------------------------

_text = st.text(alphabet="abcde #.12", max_size=40)


def _dp_ratio(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 100.0
    if la == 0 or lb == 0:
        return 0.0
    prev = [0] * (lb + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(cur[j], prev[j + 1]))
        prev = cur
    return 100.0 * 2.0 * prev[lb] / (la + lb)


@given(_text, _text)
@settings(max_examples=300, deadline=None)
def test_indel_ratio_matches_reference_dp(a, b):
    assert indel_ratio(a, b) == _dp_ratio(a, b)


@given(_text, _text)
@settings(max_examples=100, deadline=None)
def test_indel_ratio_symmetric_and_bounded(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == indel_ratio(b, a)
    if a == b and a:
        assert r == 100.0


# --------------------------------------------------------------------------
# cleaner: total function over junk; fixpoint on its own output
# --------------------------------------------------------------------------

_junk = st.one_of(
    st.text(max_size=200),
    st.text(alphabet='{}[]",:bboxcategorytext0123456789 ', max_size=200),
)


@given(_junk)
@settings(max_examples=300, deadline=None)
def test_cleaner_never_raises(payload):
    cells = clean_model_output(payload)
    assert isinstance(cells, list)
    for c in cells:
        assert isinstance(c, dict)


@given(st.lists(
    st.fixed_dictionaries({
        "bbox": st.tuples(st.integers(0, 500), st.integers(0, 500),
                          st.integers(1, 400), st.integers(1, 400))
        .map(lambda t: [t[0], t[1], t[0] + t[2], t[1] + t[3]]),
        "category": st.sampled_from(["Text", "Title", "Table", "Formula"]),
        "text": st.text(alphabet="ab c", max_size=20),
    }), max_size=8))
@settings(max_examples=150, deadline=None)
def test_cleaner_fixpoint_on_valid_json(cells):
    once = clean_model_output(json.dumps(cells))
    twice = clean_model_output(json.dumps(once))
    assert once == twice


# --------------------------------------------------------------------------
# reading order: permutation of the input never changes the visual order
# --------------------------------------------------------------------------

_grid_boxes = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 6)), min_size=1, max_size=10,
    unique=True,
).map(lambda cells: [
    [100 + c * 400, 150 + r * 220, 100 + c * 400 + 360, 150 + r * 220 + 180]
    for (c, r) in cells
])


@given(_grid_boxes, st.randoms())
@settings(max_examples=150, deadline=None)
def test_reading_order_permutation_invariant(boxes, rnd):
    base = [boxes[i] for i in reading_order(boxes)]
    perm = list(boxes)
    rnd.shuffle(perm)
    assert [perm[i] for i in reading_order(perm)] == base


@given(_grid_boxes)
@settings(max_examples=100, deadline=None)
def test_reading_order_is_a_permutation(boxes):
    order = reading_order(boxes)
    assert sorted(order) == list(range(len(boxes)))


# --------------------------------------------------------------------------
# fill_cell_texts (block-pruned) == clip_text (scalar spec) per cell
# --------------------------------------------------------------------------

_coord = st.integers(min_value=0, max_value=300)


@st.composite
def _word_layer(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    words = []
    for k in range(n):
        x0 = draw(_coord)
        y0 = draw(_coord)
        words.append([
            x0, y0,
            x0 + draw(st.integers(min_value=1, max_value=40)),
            y0 + draw(st.integers(min_value=1, max_value=20)),
            draw(st.sampled_from("abcdef")) + str(k),
            draw(st.integers(min_value=0, max_value=5)),   # block_no
            draw(st.integers(min_value=0, max_value=3)),   # line_no
            k,                                             # word_no
        ])
    return words


@st.composite
def _cells(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    out = []
    for _ in range(n):
        x0 = draw(_coord)
        y0 = draw(_coord)
        out.append({
            "bbox": [x0, y0, x0 + draw(st.integers(min_value=5, max_value=200)),
                     y0 + draw(st.integers(min_value=5, max_value=200))],
            "category": draw(st.sampled_from(
                ["Text", "Title", "Caption", "Table", "Picture"])),
        })
    return out


@given(_word_layer(), _cells(),
       st.sampled_from([1.0, 2.0, 200.0 / 72.0]))
@settings(max_examples=200, deadline=None)
def test_block_pruned_fill_equals_scalar_clip(words, cells, sf):
    from dots_ocr_spark.spec.words import (
        SKIP_CLIP_CATEGORIES,
        clip_text,
        fill_cell_texts,
    )

    filled = [dict(c) for c in cells]
    fill_cell_texts(filled, words, sf)
    for before, after in zip(cells, filled):
        if before["category"] in SKIP_CLIP_CATEGORIES:
            assert "text" not in after
        else:
            expected = clip_text(words, [v / sf for v in before["bbox"]])
            assert after["text"] == expected


# --------------------------------------------------------------------------
# process_page: a mutated fixture payload ends in a status, never a raise
# --------------------------------------------------------------------------

_PAGES = [p for d in generate_docs(12, seed=5) for p in d["pages"]]
_CELL = {"bbox": [10, 10, 200, 60], "category": "Text", "text": "a"}
_HUGE = "1" + "0" * 400
#: raw JSON literals for one bbox coordinate (``json.dumps`` cannot
#: write ``1e400`` or a 400-digit int for us)
_COORDS = ["NaN", "Infinity", "-Infinity", "1e400", "-1e400", _HUGE,
           "-" + _HUGE, "true", "false", '"5"', "null"]
_VALUES = [None, True, 5, 1.5, "x", "", [], [1], [1, 2, 3, 4], {}, {"a": 1}]
_NOT_A_LIST = ["5", '"cells"', "null", "true", "{}", '{"cells": []}']
_MUTATIONS = ["coord", "bbox3", "field", "cell", "surrogate", "nest",
              "truncate", "not_a_list", "deep_payload"]


def _bbox_of(cell):
    bbox = cell.get("bbox")
    return list(bbox) if isinstance(bbox, list) and bbox else list(_CELL["bbox"])


@st.composite
def _mutated_payload(draw):
    """A fixture page's payload text after 1-3 mutations."""
    page = draw(st.sampled_from(_PAGES))
    try:
        cells = json.loads(page["payload"])
    except ValueError:                  # a fixture page corrupted on purpose
        cells = None
    if not isinstance(cells, list) or not cells:
        cells = [_CELL]
    cells = copy.deepcopy(cells)
    raw = {}                            # placeholder -> raw JSON text

    def put(literal):
        token = f"@@raw{len(raw)}@@"
        raw[json.dumps(token)] = literal
        return token

    tail = None
    for kind in draw(st.lists(st.sampled_from(_MUTATIONS), min_size=1,
                              max_size=3)):
        i = draw(st.integers(0, len(cells) - 1))
        cell = cells[i] if isinstance(cells[i], dict) else dict(_CELL)
        cells[i] = cell
        if kind == "coord":
            bbox = cell["bbox"] = _bbox_of(cell)
            bbox[draw(st.integers(0, len(bbox) - 1))] = put(
                draw(st.sampled_from(_COORDS)))
        elif kind == "bbox3":
            cell["bbox"] = _bbox_of(cell)[:3]
        elif kind == "field":
            cell[draw(st.sampled_from(["bbox", "category", "text"]))] = \
                copy.deepcopy(draw(st.sampled_from(_VALUES)))
        elif kind == "cell":
            cells[i] = copy.deepcopy(draw(st.sampled_from(_VALUES)))
        elif kind == "surrogate":
            cell["text"] = str(cell.get("text")) + draw(
                st.sampled_from(["\ud800", "\udfff", "a\udc00b"]))
        elif kind == "nest":
            depth = draw(st.sampled_from([3, 500, 100_000]))
            cell["text"] = put("[" * depth + "]" * depth)
        else:
            tail = kind
    text = json.dumps(cells, ensure_ascii=draw(st.booleans()))
    for token, literal in raw.items():
        text = text.replace(token, literal)
    if tail == "truncate":
        text = text[:draw(st.integers(0, max(0, len(text) - 1)))]
    elif tail == "not_a_list":
        text = draw(st.sampled_from(_NOT_A_LIST))
    elif tail == "deep_payload":
        text = "[" * draw(st.sampled_from([1_000, 100_000])) + text
    return page, text


_PARSED_ARROW = {f.name: to_arrow_type(f.dataType)
                 for f in schemas.PARSED_PAGE.fields}


@given(_mutated_payload(), st.sampled_from([1.0, 2.0, 200.0 / 72.0]),
       st.sampled_from(["pipeline", "vlm"]))
@settings(max_examples=400, deadline=None)
def test_mutated_page_payload_ends_in_a_status(page_and_text, sf, mode):
    """Inside ``mapInPandas`` a raise aborts the task and then the job, so
    every hostile payload must come back as a page status whose strings
    cross the UDF's pandas → Arrow conversion."""
    page, text = page_and_text
    toc, words = page["toc_json"], page["words_json"]
    r = process_page(text, page["width"], page["height"], doc_id="d",
                     page_no=page["page_no"], scale_factor=sf, mode=mode,
                     toc=None if toc is None else json.loads(toc),
                     words=None if words is None else json.loads(words))
    assert r["status"] in {"ok", "fallback", "failed"}
    json.dumps(r["spans"], allow_nan=False)
    for col in ("md", "md_nohf", "spans"):
        pa.array([r[col]], type=_PARSED_ARROW[col])
