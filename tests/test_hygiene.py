"""Hygiene of the program files (pure Python, stdlib `ast` only).

A name that a module imports but never loads is dead weight: it costs an
import at start-up, and it reads as a dependency that is not there. The
first scan below fails on any such name in the package, the tools and the
top-level scripts. An import kept for its side effect or for re-export
says so with `# noqa: F401` (or a bare `# noqa`) on its line, or is
named in the module's `__all__`.

An `assert` statement vanishes under `python -O`, so a check made with
one is no check there. The second scan fails on any `assert` in the same
files; a program check raises an explicit exception instead.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCOPE = ("blog_parser_spark", "tools", "bench.py", "job.py",
         "__spark_entry__.py")
_NOQA = re.compile(r"#\s*noqa(?!:)|#\s*noqa:[^#]*\bF401\b", re.IGNORECASE)


def _program_files() -> list[Path]:
    out = []
    for entry in SCOPE:
        p = ROOT / entry
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _exported(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        else:
            continue
        if (any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)
                and isinstance(node.value, (ast.List, ast.Tuple))):
            names.update(e.value for e in node.value.elts
                         if isinstance(e, ast.Constant))
    return names


def unused_imports(source: str, filename: str = "<src>") -> list[tuple[int, str]]:
    """(line, name) of every imported name the module never loads."""
    tree = ast.parse(source, filename)
    lines = source.splitlines()
    imported: list[tuple[int, str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound = [(a, a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound = [(a, a.asname or a.name) for a in node.names
                     if a.name != "*"]
        else:
            continue
        for alias, name in bound:
            if not any(_NOQA.search(lines[ln - 1])
                       for ln in {node.lineno, alias.lineno}):
                imported.append((alias.lineno, name))
    used = {n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    used |= _exported(tree)
    return [(ln, name) for ln, name in imported if name not in used]


def test_scanner_flags_only_unused_names():
    src = ("import os\n"
           "import os.path as osp\n"
           "import json  # noqa: E402,F401\n"
           "from typing import Any, Iterable\n"
           "from . import side_effect  # noqa\n"
           "from .mod import exported\n"
           "__all__ = ['exported']\n"
           "def f(x: Any) -> None:\n"
           "    return os.sep\n")
    assert unused_imports(src) == [(2, "osp"), (4, "Iterable")]


def test_program_files_import_nothing_unused():
    found = [f"{p.relative_to(ROOT)}:{ln}: {name}"
             for p in _program_files()
             for ln, name in unused_imports(p.read_text(), str(p))]
    assert found == [], "imported but never used:\n" + "\n".join(found)


def assert_lines(source: str, filename: str = "<src>") -> list[int]:
    """Line of every `assert` statement in the module."""
    return sorted(n.lineno for n in ast.walk(ast.parse(source, filename))
                  if isinstance(n, ast.Assert))


def test_assert_scanner_flags_statements_only():
    src = ("def f(x):\n"
           "    assert x, 'x'\n"
           "    s = 'assert x'  # assert in a comment\n"
           "    if not x:\n"
           "        raise SystemExit('x')\n"
           "class C:\n"
           "    def g(self):\n"
           "        assert (self,\n"
           "                1)\n")
    assert assert_lines(src) == [2, 8]


def test_program_files_make_no_assert_checks():
    found = [f"{p.relative_to(ROOT)}:{ln}"
             for p in _program_files()
             for ln in assert_lines(p.read_text(), str(p))]
    assert found == [], ("assert statements, stripped by python -O:\n"
                         + "\n".join(found))
