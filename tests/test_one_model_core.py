"""Guard: ``kernels/linalg.py`` is the only module that picks the
regression design or builds a pseudo-inverse. The batch fit, the streaming
state fit and the incremental update all go through
``linalg.hsvt_fit`` / ``regression_design`` / ``svd_weights``; a second copy
of that math is how the streaming weights once drifted from the batch ones.
The cogroup ``forecast`` kernel is the only forecast path."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tslib_spark"
ALLOWED = {PKG / "kernels" / "linalg.py"}
# "pinv" catches np.linalg.pinv, however numpy's linalg is spelled
MODEL_MATH = {"past_only_submatrix", "pinv_from_svd", "pinv"}


def _model_math_calls(path: pathlib.Path) -> list[int]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in MODEL_MATH:
                hits.append(node.lineno)
    return sorted(hits)


def test_guard_detects_model_math(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import numpy as np\n"
        "from tslib_spark.kernels import linalg\n"
        "a = linalg.past_only_submatrix(m, 1, 8)\n"
        "b = linalg.pinv_from_svd(s, u, v, 1.0)\n"
        "c = np.linalg.pinv(m)\n"
        "d = linalg.svd_weights(s, u, v, 1.0, r)\n"
    )
    assert _model_math_calls(bad) == [3, 4, 5]


def test_only_linalg_does_model_math():
    offenders = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p not in ALLOWED and (lines := _model_math_calls(p))
    }
    assert not offenders, f"call linalg.hsvt_fit / regression_design / svd_weights instead: {offenders}"


def test_no_sql_forecast_path():
    hits = [
        str(p.relative_to(PKG)) for p in sorted(PKG.rglob("*.py")) if "forecast_sql" in p.read_text()
    ]
    assert not hits, f"the cogroup forecast kernel is the only forecast path: {hits}"
