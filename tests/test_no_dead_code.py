"""Dead-name gate: every top-level ``def``/``class`` in ``dots_ocr_spark/``
is reached from program code, not only from its own unit tests.

A name counts as reached when some non-test ``.py`` file of the program
mentions it (word-boundary match on the raw source, so names used only
inside the f-string SQL of ``queries.py`` count) on a line other than its
own ``def``/``class`` line. Test references that deliberately have no
program caller are listed in ``ALLOWED`` with the reason.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dots_ocr_spark"
PROGRAM = [PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]

ALLOWED = {
    "iou": "scalar reference for the vectorised exclude_overlap_boxes",
    "clip_text": "reference form of the word layer's clipping rule",
    "q_training_corpus_lazy": "reference form of the training_corpus query",
    "generate_docs": "Python-object fixture generator the oracle tests use",
}


def _program_files():
    for p in PROGRAM:
        if p.is_file():
            yield p
        else:
            yield from (f for f in sorted(p.rglob("*.py"))
                        if not f.name.startswith("test_"))


def _top_level_names():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                yield path, node.lineno, node.name


def test_every_top_level_name_has_a_program_reference():
    names = list(_top_level_names())
    assert set(ALLOWED) <= {name for _, _, name in names}, "stale ALLOWED"
    lines = {f: f.read_text().splitlines() for f in _program_files()}
    dead = []
    for path, lineno, name in names:
        if name in ALLOWED:
            continue
        word = re.compile(rf"\b{re.escape(name)}\b")
        if not any(word.search(line)
                   for f, src in lines.items()
                   for i, line in enumerate(src, 1)
                   if not (f == path and i == lineno)):
            dead.append(f"{path.relative_to(ROOT)}:{lineno} {name}")
    assert not dead, "no program code reaches:\n" + "\n".join(dead)
