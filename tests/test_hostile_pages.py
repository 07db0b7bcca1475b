"""A hostile page payload fails (or degrades) that page, never the job:
``process_page`` returns a status for each payload below instead of
raising, and inside ``mapInPandas`` the document still comes out."""

import json

import pytest

from dots_ocr_spark import oracle, pipeline, schemas
from dots_ocr_spark.spec.page import process_page

BBOX = [10, 10, 200, 60]

NON_STRING_CATEGORY = json.dumps([{"bbox": BBOX, "category": 5, "text": "a"}])
NON_STRING_TEXT = json.dumps([{"bbox": BBOX, "category": "Text", "text": 7}])
DEEP_NESTING = "[" * 100_000
GOOD = json.dumps([{"bbox": BBOX, "category": "Text", "text": "fine"}])
# unparseable payloads whose repair salvages a cell with a non-string text
SALVAGED_INT_TEXT = '[{"bbox":[1,2,30,40],"category":"Text","text":7}] junk'
SALVAGED_LIST_TEXTS = (
    '[{"bbox":[1,2,30,40],"category":"Text","text":["a"]},'
    '{"bbox":[1,2,30,41],"category":"Text","text":["b"]},{"bbox":[1,2')
SALVAGED_DICT_TEXTS = SALVAGED_LIST_TEXTS.replace(
    '["a"]', '{"a":1}').replace('["b"]', '{"b":1}')
HUGE = "1" + "0" * 400          # 10**400: a JSON int no float can hold
#: a lone-surrogate escape reaching the page's output through each source
#: of output text: (payload, words_json). At scale 2 the word box lies
#: inside BBOX / 2.
LONE_SURROGATE = [
    (json.dumps([{"bbox": BBOX, "category": "Text", "text": "a\ud800"}]), None),
    (json.dumps([{"bbox": BBOX, "category": "Picture", "media_ref": "m\udfff"}]),
     None),
    ('[{"bbox":[1,2,30,40],"category":"Text","text":"a\\ud800"}] junk', None),
    (GOOD, json.dumps([[6, 6, 20, 20, "w\ud800", 0, 0, 0]])),
]


def _with_coord(i, literal):
    """GOOD's payload with bbox coordinate ``i`` replaced by a raw JSON
    literal (``json.dumps`` cannot write ``1e400`` or ``10**400``'s text)."""
    bbox = [str(v) for v in BBOX]
    bbox[i] = literal
    return GOOD.replace(json.dumps(BBOX), "[" + ", ".join(bbox) + "]")


#: coordinates outside the float range. The first three, in x0/y0, raised
#: ``OverflowError`` from the rescale at scale 2; the last two, in x1/y1,
#: were clamped to the page and gave ``ok`` (NaN gave ``failed``).
NON_FINITE_COORDS = {
    "x0=-Infinity": _with_coord(0, "-Infinity"),
    "y0=-1e400": _with_coord(1, "-1e400"),
    "x0=-10**400": _with_coord(0, "-" + HUGE),
    "x1=Infinity": _with_coord(2, "Infinity"),
    "y1=1e400": _with_coord(3, "1e400"),
    "y1=10**400": _with_coord(3, HUGE),
}


def _page(payload):
    return process_page(payload, 1000, 1000, doc_id="d", page_no=0)


def test_non_string_category_fails_the_page():
    r = _page(NON_STRING_CATEGORY)
    assert r["status"] == "failed" and r["spans"] == []


def test_non_string_text_fails_the_page():
    r = _page(NON_STRING_TEXT)
    assert r["status"] == "failed" and r["spans"] == []


def test_deep_nesting_falls_back():
    r = _page(DEEP_NESTING)
    assert r["status"] == "fallback"
    assert r["spans"] == [{"kind": "text", "text": "", "media_ref": None}]


def test_salvaged_int_text_fails_the_page():
    r = _page(SALVAGED_INT_TEXT)
    assert r["status"] == "failed" and r["spans"] == []


def test_salvaged_list_texts_fail_the_page():
    r = _page(SALVAGED_LIST_TEXTS)
    assert r["status"] == "failed" and r["spans"] == []


def test_salvaged_dict_texts_fail_the_page():
    r = _page(SALVAGED_DICT_TEXTS)
    assert r["status"] == "failed" and r["spans"] == []


def test_salvaged_string_texts_still_fall_back():
    r = _page(SALVAGED_LIST_TEXTS.replace('["a"]', '"a"').replace('["b"]', '"b"'))
    assert r["status"] == "fallback"
    assert r["spans"] == [{"kind": "text", "text": "a\n\nb", "media_ref": None}]


@pytest.mark.parametrize("payload", NON_FINITE_COORDS.values(),
                         ids=NON_FINITE_COORDS.keys())
def test_non_finite_coordinate_fails_the_page(payload):
    r = process_page(payload, 1000, 1000, doc_id="d", page_no=0,
                     scale_factor=2.0)
    assert r["status"] == "failed" and r["spans"] == []


@pytest.mark.parametrize("text", [None, 0, False, [], ""])
def test_falsy_text_still_renders_empty(text):
    r = _page(json.dumps([{"bbox": BBOX, "category": "Text", "text": text}]))
    assert r["status"] == "ok" and r["spans"][0]["text"] == ""


@pytest.mark.parametrize("mode", ["fused", "scatter"])
def test_hostile_pages_do_not_abort_the_job(spark, mode):
    payloads = [GOOD, NON_STRING_CATEGORY, NON_STRING_TEXT, DEEP_NESTING,
                SALVAGED_INT_TEXT, SALVAGED_LIST_TEXTS, SALVAGED_DICT_TEXTS,
                *NON_FINITE_COORDS.values()]
    # scale 2 runs the rescale that the non-finite coordinates broke
    pages = [{"page_no": i, "width": 1000, "height": 1000,
              "scale_factor": 2.0, "payload": p, "toc_json": None,
              "words_json": w} for i, (p, w) in enumerate(
                  [(p, None) for p in payloads] + LONE_SURROGATE)]
    doc = {"doc_id": "hostile", "pages": pages}
    row = ("hostile", [], [tuple(p[f.name] for f in schemas.PAGE.fields)
                           for p in pages], len(pages), "small")
    docs = spark.createDataFrame([row], schemas.INPUT)
    got = pipeline.extract(docs, mode=mode).collect()[0].asDict(recursive=True)
    want = oracle.extract_document(doc)
    assert (got["n_pages"], got["n_failed"], got["n_fallback"]) == (17, 15, 1)
    for key in ("markdown", "markdown_nohf", "n_spans", "status"):
        assert got[key] == want[key], key
