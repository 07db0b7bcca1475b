"""T1-T4/T10 normalization tests (format_transformer.py semantics,
including branch order of get_formula_in_markdown)."""

from dots_ocr_spark.spec import textnorm as tn


class TestHasLatexMarkdown:
    def test_patterns(self):
        assert tn.has_latex_markdown("$$x$$")
        assert tn.has_latex_markdown("a $x+y$ b")
        assert tn.has_latex_markdown("\\begin{align}x\\end{align}")
        assert tn.has_latex_markdown("\\frac{a}{b}")
        assert tn.has_latex_markdown("\\alpha")
        assert tn.has_latex_markdown("\\[x\\]")
        assert tn.has_latex_markdown("\\(x\\)")
        assert not tn.has_latex_markdown("plain text")
        assert not tn.has_latex_markdown(None)
        assert not tn.has_latex_markdown(42)


class TestFormulaInMarkdown:
    def test_block_rewrapped_with_newlines(self):
        assert tn.formula_in_markdown("$$E=mc^2$$") == "$$\nE=mc^2\n$$"

    def test_block_with_inner_dollar_passthrough(self):
        s = "$$a $b$ c$$"
        assert tn.formula_in_markdown(s) == s

    def test_display_brackets_converted(self):
        assert tn.formula_in_markdown("\\[x+y\\]") == "$$\nx+y\n$$"

    def test_embedded_brackets_passthrough(self):
        s = "see \\[x\\] here"
        assert tn.formula_in_markdown(s) == s

    def test_inline_dollar_passthrough(self):
        s = "relation $x+y$ holds"
        assert tn.formula_in_markdown(s) == s

    def test_no_latex_passthrough(self):
        assert tn.formula_in_markdown("E = mc^2") == "E = mc^2"

    def test_bare_latex_wrapped(self):
        assert tn.formula_in_markdown("\\alpha + \\beta") == "$$\n\\alpha + \\beta\n$$"

    def test_backtick_unwrap_then_wrap(self):
        assert tn.formula_in_markdown("`\\alpha`") == "$$\n\\alpha\n$$"

    def test_preamble_stripped_when_usepackage(self):
        s = "\\usepackage{amsmath}\\alpha"
        out = tn.formula_in_markdown(s)
        assert "usepackage" not in out and out.startswith("$$\n") and "\\alpha" in out

    def test_strip_applied_first(self):
        assert tn.formula_in_markdown("  $$x$$  ") == "$$\nx\n$$"


class TestCleanText:
    def test_strip(self):
        assert tn.clean_text("  a b  ") == "a b"

    def test_backtick_dollar_unwrap(self):
        assert tn.clean_text("`$x$`") == "$x$"

    def test_empty_and_none(self):
        assert tn.clean_text("") == ""
        assert tn.clean_text(None) == ""


class TestCollapseSingleNewlines:
    def test_single_to_space_double_kept(self):
        assert tn.collapse_single_newlines("a\nb\n\nc") == "a b\n\nc"

    def test_strips(self):
        assert tn.collapse_single_newlines("  a\nb  ") == "a b"
