"""P4-P5/F1/F5/P9 geometry tests (bbox algebra, IoU suppression, category
remap)."""

import math

from dots_ocr_spark.spec import geometry as G


class TestBboxAlgebra:
    def test_divide_bbox(self):
        sf = 200.0 / 72.0
        assert G.divide_bbox([278, 556, 834, 1112], sf) == [100, 200, 300, 400]

    def test_legality(self):
        assert G.bbox_is_legal([1, 2, 3, 4])
        assert not G.bbox_is_legal([3, 2, 1, 4])  # x0 >= x2
        assert not G.bbox_is_legal([1, 4, 3, 2])  # y0 >= y2
        assert not G.bbox_is_legal([1, 2, 3])
        assert not G.bbox_is_legal("bbox")
        assert not G.bbox_is_legal([1, 2, 3, "4"])

    def test_clamp(self):
        assert G.clamp_bbox([10, 10, 2000, 3000], 1700, 2200) == [10, 10, 1700, 2200]
        assert G.clamp_bbox([10, 10, 100, 100], 1700, 2200) == [10, 10, 100, 100]


class TestIoU:
    def test_identical(self):
        assert G.iou([0, 0, 10, 10], [0, 0, 10, 10]) == 1.0

    def test_disjoint(self):
        assert G.iou([0, 0, 10, 10], [20, 20, 30, 30]) == 0.0

    def test_partial(self):
        assert math.isclose(G.iou([0, 0, 10, 10], [5, 0, 15, 10]), 50 / 150)

    def test_suppression_drops_smaller(self):
        big = {"bbox": [0, 0, 100, 100], "category": "Table"}
        small = {"bbox": [1, 1, 100, 100], "category": "Text"}  # IoU ~0.96
        out = G.exclude_overlap_boxes([small, big])
        assert out == [big]

    def test_suppression_keeps_equal_areas(self):
        a = {"bbox": [0, 0, 100, 100], "category": "Text"}
        b = {"bbox": [0, 0, 100, 100], "category": "Table"}
        assert G.exclude_overlap_boxes([a, b]) == [a, b]

    def test_below_threshold_kept(self):
        a = {"bbox": [0, 0, 100, 100], "category": "Text"}
        b = {"bbox": [0, 0, 80, 100], "category": "Text"}  # IoU 0.8
        assert G.exclude_overlap_boxes([a, b]) == [a, b]


class TestCategoryRemap:
    def test_mapping(self):
        assert G.remap_category("doc_title") == "Title"
        assert G.remap_category("paragraph_title") == "Section-header"
        assert G.remap_category("figure") == "Picture"
        assert G.remap_category("footer") == "Page-footer"
        assert G.remap_category("formula_number") == "Text"

    def test_passthrough(self):
        assert G.remap_category("Table") == "Table"
        assert G.remap_category("seal") == "seal"
