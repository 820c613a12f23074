"""Every name a ``tslib_spark`` package exports has a caller.

A name in an ``__init__``'s ``__all__`` is live when some Python file
outside ``tests/``, outside that ``__init__`` and outside the module that
defines it names it in code (comments and docstrings do not count). A name
with no such caller sits on ``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SKIP_DIRS = {"tests", ".git", "__pycache__", "fixtures"}

ALLOWED = {
    # tslib test-data generators: reproductions of the reference's data
    # scripts, called by the tests that pin them to the reference
    "generate_arma": "reproduces the reference's ARMA data script",
    "generate_harmonics": "reproduces the reference's harmonics data script",
    "generate_trend": "reproduces the reference's trend data script",
    "hide_random": "reproduces the reference's random-missingness helper",
    "hide_consecutive": "reproduces the reference's consecutive-gap helper",
    "single_ts_fixture": "reproduces the reference's single-series test script data",
    "multi_ts_fixture": "reproduces the reference's multi-series test script data",
    # the one-blob codec API: calls of the batched decode, kept for users
    # with a single series in hand
    "encode_values": "one-blob codec API",
    "decode_values": "one-blob codec API",
    "encode_timestamps": "one-blob codec API",
    "decode_timestamps": "one-blob codec API",
    # the updateSVD kernels around update_from_store
    "fit_state": "builds the initial model state that update_from_store folds into",
    "impute_from_state": "the imputed tier's read of the maintained model state",
    "unnormalize_expr": "inverse of normalize_expr, the reference's unnormalize",
    "read_csv_panel": "reads the reference's CSV case-study panels for RSC",
}


def _code_names(path: Path) -> set[str]:
    """Identifiers used as code in ``path`` (no comments, no strings)."""
    toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return {t.string for t in toks if t.type == tokenize.NAME}


def _exports(init: Path, root: Path) -> dict[str, Path]:
    """``{name: defining file}`` for every name in ``init``'s ``__all__``."""
    tree = ast.parse(init.read_text())
    origin: dict[str, Path] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module:
            base = root.joinpath(*node.module.split("."))
            for alias in node.names:
                sub = base / f"{alias.name}.py"  # a submodule export
                origin[alias.asname or alias.name] = sub if sub.exists() else base.with_suffix(".py")
    names = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
    )
    return {name: origin.get(name, init) for name in names}


def dead_exports(root: Path = ROOT) -> dict[str, str]:
    """``{name: __init__ path}`` for exports with no caller outside tests."""
    files = [
        p for p in root.rglob("*.py")
        if not SKIP_DIRS.intersection(p.relative_to(root).parts)
    ]
    names_in = {p: _code_names(p) for p in files}
    dead = {}
    for init in sorted((root / "tslib_spark").rglob("__init__.py")):
        if "__all__" not in init.read_text():
            continue
        for name, defined_in in _exports(init, root).items():
            if not any(
                name in names for p, names in names_in.items() if p not in (init, defined_in)
            ):
                dead[name] = str(init.relative_to(root))
    return dead


def test_every_export_has_a_caller_or_a_reason():
    dead = dead_exports()
    unexplained = sorted(set(dead) - set(ALLOWED))
    assert not unexplained, (
        f"exported but never called outside tests: {unexplained}; delete them "
        "or add each to ALLOWED with its reason"
    )
    stale = sorted(set(ALLOWED) - set(dead))
    assert not stale, f"ALLOWED names that now have a caller: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_guard_sees_an_uncalled_export(tmp_path):
    """The guard flags an export named only by its own module and tests,
    and counts a name used in code (not in a docstring) as a caller."""
    pkg = tmp_path / "tslib_spark" / "ops"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text(
        "from tslib_spark.ops.mod import live, dead\n__all__ = ['live', 'dead']\n"
    )
    (pkg / "mod.py").write_text("def live():\n    pass\n\n\ndef dead():\n    pass\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text("from tslib_spark.ops import dead\n")
    (tmp_path / "app.py").write_text(
        '"""dead is only mentioned here."""\nfrom tslib_spark.ops import live\n'
    )
    assert dead_exports(tmp_path) == {"dead": "tslib_spark/ops/__init__.py"}
