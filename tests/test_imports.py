"""Spark-free guards on the source tree.

- every name a package module imports is used in it (`__init__.py` files are
  skipped, their imports are re-exports, and so are names a module lists in
  `__all__`);
- every top-level function, class or constant of a package module or of
  `__spark_entry__.py` is used somewhere in the package, the tests, perfbench
  or the entry module."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "siteone_crawler_spark"
ENTRY = ROOT / "__spark_entry__.py"

# SiteOne's numbered code tables (SkippedReason, UrlSource) are kept whole, so
# each code keeps its reference number even where the crawl never emits it.
CODE_TABLE_NAMES = {"SKIP_EXCEEDS_MAX_DEPTH", "SOURCE_INIT_URL", "SOURCE_URL_LIST"}


def _unused_imports(tree: ast.Module) -> list[str]:
    imported: dict[str, int] = {}
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)) and getattr(
            node, "module", None
        ) != "__future__":
            for a in node.names:
                imported.setdefault(a.asname or a.name.split(".")[0], node.lineno)
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and "__all__" in {
            getattr(t, "id", None) for t in node.targets
        }:
            used |= {e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)}
    return sorted(f"{n}:{line}" for n, line in imported.items() if n not in used | {"*"})


def test_no_unused_imports():
    modules = [p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"]
    assert modules, PKG
    found = {
        str(p.relative_to(PKG.parent)): u
        for p in modules
        if (u := _unused_imports(ast.parse(p.read_text(), filename=str(p))))
    }
    assert not found, found


def _top_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_no_unreferenced_top_level_names():
    """A load of a name, an attribute access or an import alias counts as a
    use; a definition does not. Methods are out of scope (`HTMLParser`
    callbacks are called by name)."""
    files = [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
        ENTRY,
    ]
    used: set[str] = set()
    defined: dict[str, str] = {}
    for p in files:
        tree = ast.parse(p.read_text(), filename=str(p))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.update(node.name.split("."))
        if p == ENTRY or p.is_relative_to(PKG):
            for n in _top_level_names(tree):
                defined[f"{p.relative_to(ROOT)}:{n}"] = n
    unused = sorted(k for k, n in defined.items() if n not in used | CODE_TABLE_NAMES)
    assert not unused, unused
