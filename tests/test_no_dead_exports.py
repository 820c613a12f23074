"""Every public name in ``tslib_spark`` has a caller.

A top-level ``def``, ``class`` or assigned name of a ``tslib_spark`` module,
or a method of a top-level class, whose name has no leading underscore
(``__all__`` aside) is live when some Python file outside ``tests/`` names
it in code (comments and docstrings do not count) anywhere other than the
line that binds it: another module, or the same module reading it again.
``__init__.py`` files only re-export, and ``oracle/`` modules are test
references, so neither is checked and neither counts as a caller. A name
with no such caller sits on ``ALLOWED`` with the reason it stays; a method
is reported and allowed as ``Class.method``.

Every entry of a module-level ``__all__`` must also be bound in that
module, so a deleted name cannot linger as a stale export. Every
module-level import of a ``tslib_spark`` module other than an
``__init__.py`` must be named in that module's code again or listed in its
``__all__``, so a deletion cannot leave an unused import behind.
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SKIP_DIRS = {"tests", ".git", "__pycache__", "fixtures"}

ALLOWED = {
    # the paper's RSC / mRSC surface
    "rsc_predict": "the paper's RSC counterfactual predict",
    "mrsc_predict": "the paper's mRSC counterfactual predict",
    "rank_preservation_diagnostic": "the paper's mRSC rank-preservation diagnostic",
    # reproductions of the reference's data scripts, called by the tests
    # that pin them to the reference
    "single_ts_fixture": "reproduces the reference's single-series test script data",
    "multi_ts_fixture": "reproduces the reference's multi-series test script data",
    "sigmoid_function_one": "reproduces the reference's mRSC simpleFunctionOne",
    "sigmoid_function_two": "reproduces the reference's mRSC simpleFunctionTwo",
    "sigmoid_params": "reproduces the reference's mRSC parameter draw",
    "trend_df": "reproduces the reference's trend data script on Spark",
    "hide_values_df": "reproduces the reference's random-missingness helper on Spark",
    # reference implementations and metrics
    "registrable_domain_py": "pure-Python PSL reference of registrable_domain",
    "rmse": "the reference's numpy RMSE metric",
    # parked by ROADMAP until the Iceberg runtime jar is available
    "IcebergBackend": "the Iceberg catalog seam, a raising stub without the jar",
    # direction 2's imputed tier: the updateSVD kernels and their driver
    "fit_state": "builds the initial model state that update_from_store folds into",
    "impute_from_state": "the imputed tier's read of the maintained model state",
    "update_from_store": "folds new tier partitions into the imputed tier's model",
    "unnormalize_expr": "inverse of normalize_expr, the reference's unnormalize",
    "read_csv_panel": "reads the reference's CSV case-study panels for RSC",
}


def _code_names(path: Path) -> list[tuple[str, int]]:
    """``(identifier, line)`` of every name used as code in ``path``
    (no comments, no strings)."""
    toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return [(t.string, t.start[0]) for t in toks if t.type == tokenize.NAME]


def _checked(path: Path, root: Path) -> bool:
    """Whether ``path`` is a module whose names are checked and whose code
    counts as a caller: not an ``__init__``, not an oracle."""
    return path.name != "__init__.py" and "oracle" not in path.relative_to(root).parts


def dead_names(root: Path = ROOT) -> dict[str, str]:
    """``{name: defining file}`` for public top-level names with no caller
    outside tests."""
    files = [
        p for p in root.rglob("*.py")
        if not SKIP_DIRS.intersection(p.relative_to(root).parts) and _checked(p, root)
    ]
    uses: dict[str, set[tuple[Path, int]]] = {}
    for p in files:
        for name, line in _code_names(p):
            uses.setdefault(name, set()).add((p, line))
    dead = {}
    for mod in sorted(p for p in files if (root / "tslib_spark") in p.parents):
        tree = ast.parse(mod.read_text())
        for name, line in _defined(tree) + _methods(tree):
            short = name.rpartition(".")[2]
            if short.startswith("_"):
                continue
            if not uses.get(short, set()) - {(mod, line)}:
                dead[name] = str(mod.relative_to(root))
    return dead


def _methods(tree: ast.Module) -> list[tuple[str, int]]:
    """``("Class.method", line)`` of every method of a top-level class."""
    return [
        (f"{cls.name}.{node.name}", node.lineno)
        for cls in tree.body if isinstance(cls, ast.ClassDef)
        for node in cls.body if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _defined(tree: ast.Module) -> list[tuple[str, int]]:
    """``(name, line)`` of every top-level ``def``, ``class`` and plain
    assignment target in ``tree``."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [(t.id, t.lineno) for t in targets if isinstance(t, ast.Name)]
    return out


def _bound(tree: ast.Module) -> set[str]:
    """Names a module binds at top level: defs, classes, assignments, imports."""
    names = {name for name, _ in _defined(tree)}
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _all_entries(tree: ast.Module) -> list[str]:
    """The names a module lists in its top-level ``__all__``."""
    return [
        name
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        for name in ast.literal_eval(node.value)
    ]


def unbound_all_entries(root: Path = ROOT) -> list[str]:
    """``path: name`` for every ``__all__`` entry its module does not bind."""
    stale = []
    for mod in sorted((root / "tslib_spark").rglob("*.py")):
        tree = ast.parse(mod.read_text())
        bound = _bound(tree)
        stale += [
            f"{mod.relative_to(root)}: {name}"
            for name in _all_entries(tree)
            if name not in bound
        ]
    return stale


def unused_imports(root: Path = ROOT) -> list[str]:
    """``path: name`` for every module-level import of a ``tslib_spark``
    module (``__init__.py`` aside) that its code never names again outside
    the import statements and its ``__all__`` does not list."""
    unused = []
    for mod in sorted((root / "tslib_spark").rglob("*.py")):
        if mod.name == "__init__.py":
            continue
        tree = ast.parse(mod.read_text())
        imports = [
            node for node in tree.body
            if isinstance(node, (ast.Import, ast.ImportFrom))
            and getattr(node, "module", None) != "__future__"
        ]
        import_lines = {
            line for node in imports for line in range(node.lineno, node.end_lineno + 1)
        }
        named = {name for name, line in _code_names(mod) if line not in import_lines}
        named.update(_all_entries(tree))
        unused += [
            f"{mod.relative_to(root)}: {bound}"
            for node in imports
            for alias in node.names
            if (bound := (alias.asname or alias.name).split(".")[0]) not in named
        ]
    return unused


def test_every_export_has_a_caller_or_a_reason():
    dead = dead_names()
    unexplained = sorted(set(dead) - set(ALLOWED))
    assert not unexplained, (
        f"public but never called outside tests: {unexplained}; delete them "
        "or add each to ALLOWED with its reason"
    )
    stale = sorted(set(ALLOWED) - set(dead))
    assert not stale, f"ALLOWED names that now have a caller or are gone: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_every_all_entry_is_bound():
    assert not unbound_all_entries(), unbound_all_entries()


def test_every_import_is_used():
    assert not unused_imports(), f"delete the unused imports: {unused_imports()}"


def test_guard_sees_an_uncalled_export(tmp_path):
    """The guard flags a name or method used only at its ``def`` or
    assignment and a name only a docstring, an ``__init__``, an oracle or a
    test mentions; a second use inside its own module, or a read in
    another, counts as a caller; a stale ``__all__`` entry and an import
    named nowhere else are reported."""
    pkg = tmp_path / "tslib_spark" / "ops"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text(
        "from tslib_spark.ops.mod import dead, mentioned\n__all__ = ['dead', 'mentioned']\n"
    )
    (pkg / "mod.py").write_text(
        "from __future__ import annotations\n\n"
        "import os\n"
        "import struct\n"
        "from tslib_spark.ops.other import (\n    REEXPORTED,\n    unused_too,\n)\n\n"
        "__all__ = ['live', 'dead', 'gone', 'REEXPORTED']\n"
        "UNREAD = 1\n"
        "SHARED = (\n    2\n)\n\n\n"
        "def live():\n    return _helper(os.sep)\n\n\n"
        "def _helper(sep):\n    return reused()\n\n\n"
        "def reused():\n    pass\n\n\n"
        "def dead():\n    pass\n\n\n"
        "def mentioned():\n    pass\n\n\n"
        "class Store:\n"
        "    def __init__(self):\n        self._load()\n\n"
        "    def _load(self):\n        pass\n\n"
        "    def used(self):\n        pass\n\n"
        "    def unused(self):\n        pass\n"
    )
    oracle = tmp_path / "tslib_spark" / "oracle"
    oracle.mkdir()
    (oracle / "ref.py").write_text(
        "from tslib_spark.ops.mod import dead\n\n\ndef reference():\n    return dead()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from tslib_spark.ops.mod import Store, dead, mentioned\n\nStore().unused()\n"
    )
    (tmp_path / "app.py").write_text(
        '"""mentioned is only mentioned here."""\n'
        "from tslib_spark.ops.mod import SHARED, Store, live\n\nlive(SHARED)\nStore().used()\n"
    )
    assert dead_names(tmp_path) == {
        "UNREAD": "tslib_spark/ops/mod.py",
        "dead": "tslib_spark/ops/mod.py",
        "mentioned": "tslib_spark/ops/mod.py",
        "Store.unused": "tslib_spark/ops/mod.py",
    }
    assert unbound_all_entries(tmp_path) == ["tslib_spark/ops/mod.py: gone"]
    assert unused_imports(tmp_path) == [
        "tslib_spark/ops/mod.py: struct",
        "tslib_spark/ops/mod.py: unused_too",
    ]
