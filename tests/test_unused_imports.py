"""Every name a ``co_new_spark`` module imports is used in that module.

No linter runs on this repo, so this AST scan stands in for the
unused-import check.  Package ``__init__.py`` files are skipped: their imports
are re-exports."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "co_new_spark")


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of every imported name that nothing in ``source`` reads."""
    tree = ast.parse(source)
    imported: list[tuple[int, str]] = []
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [(node.lineno, a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            imported += [(node.lineno, a.asname or a.name) for a in node.names]
        elif isinstance(node, ast.Name):
            used.add(node.id)
    return [(line, name) for line, name in imported if name not in used]


def test_unused_imports_scan_sees_only_reads():
    src = "import os\nimport a.b\nfrom x import y as z, w\n# os.path\nprint(a, w)\n"
    assert unused_imports(src) == [(1, "os"), (3, "z")]


def test_no_unused_imports():
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py") and f != "__init__.py":
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    found += [f"{os.path.relpath(path, PKG)}:{line} {name}"
                              for line, name in unused_imports(fh.read())]
    assert not found, "unused imports:\n" + "\n".join(found)
