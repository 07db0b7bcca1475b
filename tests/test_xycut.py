"""O1 reading-order tests on hand-verified layout archetypes
(FIXTURES.md §2). Expected orders are computed by hand from the geometry,
NOT by running the algorithm — this is the independent check on XY-cut."""

from dots_ocr_spark.spec.xycut import reading_order


def order_of(boxes, cats=None):
    return reading_order(boxes, cats)


class TestSingleColumn:
    def test_top_to_bottom(self):
        boxes = [[100, 500, 900, 600], [100, 100, 900, 200], [100, 300, 900, 400]]
        assert order_of(boxes) == [1, 2, 0]


class TestTwoColumn:
    def test_left_column_first(self):
        # left col: A(idx0) above B(idx1); right col: C(idx2) above D(idx3)
        boxes = [
            [100, 100, 450, 300],   # A left-top
            [100, 350, 450, 600],   # B left-bottom
            [500, 100, 850, 300],   # C right-top
            [500, 350, 850, 600],   # D right-bottom
        ]
        assert order_of(boxes) == [0, 1, 2, 3]

    def test_interleaved_input_order(self):
        boxes = [
            [500, 350, 850, 600],   # D
            [100, 100, 450, 300],   # A
            [500, 100, 850, 300],   # C
            [100, 350, 450, 600],   # B
        ]
        assert order_of(boxes) == [1, 3, 2, 0]


class TestFullWidthSpans:
    def test_title_above_columns_with_gap(self):
        boxes = [
            [100, 100, 850, 200],   # full-width title
            [100, 250, 450, 600],   # left col
            [500, 250, 850, 600],   # right col
        ]
        assert order_of(boxes) == [0, 1, 2]

    def test_title_flush_against_columns_peel_path(self):
        # no y-gap between title and columns: the peel fallback must still
        # emit title first, then left column, then right column
        boxes = [
            [100, 100, 850, 250],   # full-width title (flush)
            [100, 250, 450, 600],   # left col
            [500, 250, 850, 600],   # right col
        ]
        assert order_of(boxes) == [0, 1, 2]

    def test_full_width_table_between_column_bands(self):
        boxes = [
            [100, 100, 450, 280],   # left top
            [500, 100, 850, 280],   # right top
            [100, 320, 850, 500],   # full-width table
            [100, 540, 450, 700],   # left bottom
            [500, 540, 850, 700],   # right bottom
        ]
        assert order_of(boxes) == [0, 1, 2, 3, 4]


class TestHeaderFooter:
    def test_header_first_footer_last(self):
        boxes = [
            [100, 1000, 900, 1050],  # footer band (idx 0)
            [100, 500, 900, 600],    # body B (idx 1)
            [100, 10, 900, 50],      # header band (idx 2)
            [100, 100, 900, 400],    # body A (idx 3)
        ]
        cats = ["Page-footer", "Text", "Page-header", "Text"]
        assert order_of(boxes, cats) == [2, 3, 1, 0]

    def test_multiple_headers_sorted_by_position(self):
        boxes = [
            [500, 10, 900, 50],
            [100, 10, 450, 50],
            [100, 100, 900, 200],
        ]
        cats = ["Page-header", "Page-header", "Text"]
        assert order_of(boxes, cats) == [1, 0, 2]


class TestFigureCaption:
    def test_caption_follows_figure(self):
        boxes = [
            [100, 100, 500, 400],   # picture
            [100, 420, 500, 470],   # caption below
            [100, 520, 500, 700],   # following text
        ]
        assert order_of(boxes) == [0, 1, 2]


class TestDegenerate:
    def test_empty_and_single(self):
        assert order_of([]) == []
        assert order_of([[0, 0, 1, 1]]) == [0]

    def test_is_permutation_on_overlapping_boxes(self):
        boxes = [[0, 0, 50, 50], [10, 10, 60, 60], [20, 0, 70, 40], [0, 20, 40, 80]]
        order = order_of(boxes)
        assert sorted(order) == [0, 1, 2, 3]

    def test_identical_boxes_stable_by_index(self):
        boxes = [[0, 0, 10, 10]] * 3
        assert order_of(boxes) == [0, 1, 2]

    def test_xycut_order_permutation_property(self):
        import random
        rng = random.Random(7)
        for _ in range(50):
            n = rng.randint(0, 25)
            boxes = []
            for _ in range(n):
                x1 = rng.randint(0, 900)
                y1 = rng.randint(0, 900)
                boxes.append([x1, y1, x1 + rng.randint(1, 300), y1 + rng.randint(1, 200)])
            assert sorted(reading_order(boxes)) == list(range(n))
