"""Every name a module imports is used in that module: the ``co_new_spark``
package, ``tests/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py``.

No linter runs on this repo, so this AST scan stands in for the
unused-import check.  Package ``__init__.py`` files are skipped: their imports
are re-exports.  An import whose statement carries ``# noqa: F401`` is kept on
purpose (a side-effect import) and is not reported."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("co_new_spark", "tests", "tools", "bench.py", "__spark_entry__.py")


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of every imported name that nothing in ``source`` reads."""
    tree = ast.parse(source)
    lines = source.splitlines()
    imported: list[tuple[int, str]] = []
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import) or (
                isinstance(node, ast.ImportFrom) and node.module != "__future__"):
            if any("noqa: F401" in ln for ln in lines[node.lineno - 1:node.end_lineno]):
                continue
            imported += [(node.lineno, a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.Name):
            used.add(node.id)
    return [(line, name) for line, name in imported if name not in used]


def _sources():
    for entry in SCANNED:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    yield os.path.join(root, f)


def test_unused_imports_scan_sees_only_reads():
    src = ("import os\nimport a.b\nfrom x import y as z, w\n# os.path\n"
           "import hook  # noqa: F401  runs on import\nprint(a, w)\n")
    assert unused_imports(src) == [(1, "os"), (3, "z")]


def test_no_unused_imports():
    found = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            found += [f"{os.path.relpath(path, ROOT)}:{line} {name}"
                      for line, name in unused_imports(fh.read())]
    assert not found, "unused imports:\n" + "\n".join(found)
