"""Spark-free guard: every name a package module imports is used in it.

`__init__.py` files are skipped (their imports are re-exports), and so are
names a module lists in `__all__`."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "siteone_crawler_spark"


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
