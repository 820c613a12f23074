"""Guard: ``functions/text.tokens`` is the package's only whitespace
tokenizer. Any other module that splits text on a ``\\s+`` regex — through
a ``split`` call or inside a SQL expression string — is a copy that will
drift from it at the edges (tabs, newlines, empty text)."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "tslib_spark"
ALLOWED = {PKG / "functions" / "text.py"}
# \s+ with its backslash escaped any number of times (Python, then SQL)
WS_RE = re.compile(r"\\+s\+")


def _whitespace_splits(path: pathlib.Path) -> list[int]:
    """Line numbers of ``split(..., '\\s+')`` calls and of string constants
    holding a SQL ``split(`` with a ``\\s+`` pattern."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            args = [*node.args, *(kw.value for kw in node.keywords)]
            if name == "split" and any(
                isinstance(a, ast.Constant) and isinstance(a.value, str) and WS_RE.search(a.value)
                for a in args
            ):
                hits.append(node.lineno)
            continue
        if isinstance(node, ast.JoinedStr):  # f-string: its literal parts joined
            text = "{}".join(v.value for v in node.values if isinstance(v, ast.Constant))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
        else:
            continue
        if "split(" in text and WS_RE.search(text):
            hits.append(node.lineno)
    return sorted(set(hits))


def test_guard_detects_a_copy(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        'from pyspark.sql import functions as F\n'
        'a = F.split(F.col("t"), "\\\\s+")\n'
        'b = F.expr("size(split(trim(t), \'\\\\\\\\s+\'))")\n'
        'c = F.expr(f"split(trim({col}), \'\\\\\\\\s+\')")\n'
        'd = line.split()\n'
    )
    assert _whitespace_splits(bad) == [2, 3, 4]


def test_tokens_is_the_only_whitespace_tokenizer():
    offenders = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p not in ALLOWED and (lines := _whitespace_splits(p))
    }
    assert not offenders, f"use functions.text.tokens instead: {offenders}"
