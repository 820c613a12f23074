"""Guard: one Gorilla chunk codec.

- No module calls a one-blob decoder (``decode_values`` or
  ``decode_timestamps``; the codec has none). Every decode takes a whole
  Arrow batch column; a per-blob decode in a Python loop costs a call
  per chunk row.
- ``codec/chunks.py`` (the shared chunk kernels) and ``codec/gorilla.py``
  are the only modules that call the batch decoders ``decode_*_multi``,
  so every chunk layout goes through the one checked decode.
- No ``codec/`` module calls ``applyInPandas``: chunk encode is the
  sorted-stream ``mapInPandas`` kernel of ``codec/chunks.py``.
- No ``codec/`` module joins keys back onto chunk rows: no key dictionary
  (``distinct`` plus a ``broadcast`` join) and no pandas ``merge`` or
  ``rename`` per batch. The keys ride the encode shuffle, and each chunk
  row takes them from the row its chunk starts at."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tslib_spark"
CODEC = PKG / "codec"
PER_BLOB = {"decode_timestamps", "decode_values"}
MULTI = {"decode_timestamps_multi", "decode_values_multi"}
KEY_REJOIN = {"distinct", "broadcast", "merge", "rename"}


def _uses(path: pathlib.Path, names: set[str]) -> list[int]:
    """Lines that call or otherwise name ``names`` (a decoder handed
    around in a table is still a call site)."""
    hits = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        if name in names:
            hits.add(node.lineno)
    return sorted(hits)


def _offenders(paths, find) -> dict[str, list[int]]:
    return {str(p.relative_to(PKG)): lines for p in sorted(paths) if (lines := find(p))}


def test_guard_detects_a_per_blob_call(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "from tslib_spark.codec.gorilla import decode_values\n"
        "from tslib_spark.codec import gorilla\n"
        "a = [decode_values(b) for b in blobs]\n"
        "b = gorilla.decode_timestamps(blob)\n"
        "c = gorilla.decode_values_multi(blobs)\n"
        "d = {'double': gorilla.decode_values_multi}\n"
        "e = df.groupBy('g').applyInPandas(f, schema=s)\n"
        "f = chunks.join(F.broadcast(keys.distinct()), '_sid')\n"
        "g = pdf.merge(key_dict, on='_sid').rename(columns=names)\n"
    )
    assert _uses(bad, PER_BLOB) == [3, 4]
    assert _uses(bad, MULTI) == [5, 6]
    assert _uses(bad, {"applyInPandas"}) == [7]
    assert _uses(bad, KEY_REJOIN) == [8, 9]


def test_no_per_blob_decoders():
    offenders = _offenders(PKG.rglob("*.py"), lambda p: _uses(p, PER_BLOB))
    assert not offenders, f"decode a batch with decode_*_multi instead: {offenders}"


def test_only_the_chunk_kernels_call_batch_decoders():
    allowed = {CODEC / "chunks.py", CODEC / "gorilla.py"}
    offenders = _offenders(
        (p for p in PKG.rglob("*.py") if p not in allowed), lambda p: _uses(p, MULTI)
    )
    assert not offenders, f"decode chunks with codec.chunks.decode_blobs: {offenders}"


def test_no_apply_in_pandas_in_codec():
    offenders = _offenders(CODEC.rglob("*.py"), lambda p: _uses(p, {"applyInPandas"}))
    assert not offenders, f"encode chunks with codec.chunks.encode_runs: {offenders}"


def test_encode_carries_its_keys():
    offenders = _offenders(CODEC.rglob("*.py"), lambda p: _uses(p, KEY_REJOIN))
    assert not offenders, f"take chunk keys by run-start position instead: {offenders}"
