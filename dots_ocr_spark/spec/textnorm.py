"""Text/LaTeX/Markdown normalization rules (T1-T4, T10).

Deterministic re-implementation of
`/root/reference/dots_ocr/utils/format_transformer.py:6-205` and the
PDF-text newline collapse `/root/reference/dots_ocr/utils/pdf_extractor.py:55`.
Branch order inside :func:`formula_in_markdown` matters and mirrors the
reference exactly.
"""

from __future__ import annotations

import re

# T1 — LaTeX-markdown detection patterns
# (format_transformer.py:20-28, applied with re.DOTALL)
_LATEX_PATTERNS = [
    r"\$\$.*?\$\$",                      # block math $$...$$
    r"\$[^$\n]+?\$",                     # inline math $...$
    r"\\begin\{.*?\}.*?\\end\{.*?\}",    # \begin{...}...\end{...}
    r"\\[a-zA-Z]+\{.*?\}",               # \command{...}
    r"\\[a-zA-Z]+",                      # \command
    r"\\\[.*?\\\]",                      # \[...\]
    r"\\\(.*?\\\)",                      # \(...\)
]
_LATEX_RES = [re.compile(p, re.DOTALL) for p in _LATEX_PATTERNS]

# T2 — preamble strip patterns (format_transformer.py:49-55, IGNORECASE)
_PREAMBLE_PATTERNS = [
    r"\\documentclass\{[^}]+\}",
    r"\\usepackage\{[^}]+\}",
    r"\\usepackage\[[^\]]*\]\{[^}]+\}",
    r"\\begin\{document\}",
    r"\\end\{document\}",
]
_PREAMBLE_RES = [re.compile(p, re.IGNORECASE) for p in _PREAMBLE_PATTERNS]

# T10 — single-newline collapse on extracted PDF text (pdf_extractor.py:55)
_SINGLE_NEWLINE = re.compile(r"(?<!\n)\n(?!\n)")


def has_latex_markdown(text) -> bool:
    """T1 — True iff any LaTeX-markdown pattern matches.

    Ref: format_transformer.py:6-35.
    """
    if not isinstance(text, str):
        return False
    return any(p.search(text) for p in _LATEX_RES)


def clean_latex_preamble(latex_text: str) -> str:
    """T2 — strip documentclass/usepackage/document-env commands.

    Ref: format_transformer.py:38-62.
    """
    cleaned = latex_text
    for p in _PREAMBLE_RES:
        cleaned = p.sub("", cleaned)
    return cleaned


def formula_in_markdown(text: str) -> str:
    """T3 — normalize a Formula cell's text for Markdown rendering.

    Ref: format_transformer.py:65-115. The branch ORDER is part of the
    contract:

    1. ``$$...$$`` with no inner ``$`` → re-wrapped as ``$$\\n…\\n$$``;
       with inner ``$`` → returned as-is.
    2. ``\\[...\\]`` (full wrap) → converted to ``$$\\n…\\n$$``.
    3. text *containing* ``\\[...\\]`` anywhere → as-is.
    4. any inline ``$...$`` present → as-is.
    5. no LaTeX markdown at all → as-is.
    6. otherwise: strip preamble if ``usepackage`` present, unwrap a full
       backtick wrap, then wrap in ``$$\\n…\\n$$``.
    """
    text = text.strip()

    if text.startswith("$$") and text.endswith("$$"):
        text_new = text[2:-2].strip()
        if "$" not in text_new:
            return f"$$\n{text_new}\n$$"
        return text

    if text.startswith("\\[") and text.endswith("\\]"):
        inner = text[2:-2].strip()
        return f"$$\n{inner}\n$$"

    if re.findall(r".*\\\[.*\\\].*", text):
        return text

    if re.findall(r"\$([^$]+)\$", text):
        return text

    if not has_latex_markdown(text):
        return text

    if "usepackage" in text:
        text = clean_latex_preamble(text)

    if text and text[0] == "`" and text[-1] == "`":
        text = text[1:-1]

    return f"$$\n{text}\n$$"


def clean_text(text) -> str:
    """T4 — strip; unwrap a ``\\`$…$\\``` wrap.

    Ref: format_transformer.py:118-138.
    """
    if not text:
        return ""
    text = text.strip()
    if text[:2] == "`$" and text[-2:] == "$`":
        text = text[1:-1]
    return text


def collapse_single_newlines(text: str) -> str:
    """T10 — single newline → space (double newlines preserved), then strip.

    Ref: pdf_extractor.py:45-62 (``extract_text``).
    """
    return _SINGLE_NEWLINE.sub(" ", text).strip()
