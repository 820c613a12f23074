"""Guard: ``codec/gorilla.py`` is the only module that calls the one-blob
decoders. Everywhere else decodes a whole Arrow batch column with
``decode_values_multi`` / ``decode_timestamps_multi``; a per-blob decode in
a Python loop costs a call per chunk row."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tslib_spark"
ALLOWED = {PKG / "codec" / "gorilla.py"}
PER_BLOB = {"decode_timestamps", "decode_values"}


def _per_blob_calls(path: pathlib.Path) -> list[int]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in PER_BLOB:
                hits.append(node.lineno)
    return sorted(hits)


def test_guard_detects_a_per_blob_call(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "from tslib_spark.codec.gorilla import decode_values\n"
        "from tslib_spark.codec import gorilla\n"
        "a = [decode_values(b) for b in blobs]\n"
        "b = gorilla.decode_timestamps(blob)\n"
        "c = gorilla.decode_values_multi(blobs)\n"
    )
    assert _per_blob_calls(bad) == [3, 4]


def test_only_gorilla_calls_per_blob_decoders():
    offenders = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p not in ALLOWED and (lines := _per_blob_calls(p))
    }
    assert not offenders, f"decode a batch with decode_*_multi instead: {offenders}"
