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

A function or class that only tests call is code the system does not
run. The third scan fails on any top-level, undecorated `def` or `class`
in the package whose name no program file (the package, the tools, the
top-level scripts and the benchmark harness outside its tests) loads
outside the definition itself. Reference code and fixtures that tests
compare against, and the few kept entry points no program calls yet, are
exempt by name in `CALLER_EXEMPT`, each with its reason; an exemption
that is no longer needed fails the scan too.

A tool that writes a `/proc/sys` setting (dropping the page cache, say)
changes the whole host, not its own processes. The fourth scan fails on
any call in the package or the tools that opens a `/proc/sys` path for
writing.
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


# file:name -> why it may have no program caller
_PKG = "blog_parser_spark/"
CALLER_EXEMPT = {
    _PKG + "oracle.py:run_pipeline":
        "the pure-Python reference the Spark pipeline is compared against",
    _PKG + "oracle.py:document_to_page":
        "the fixture row -> page mapping of the reference run",
    _PKG + "sources/fixtures.py:expected_sentence_counts":
        "the expected values of the adversarial pages",
    _PKG + "spec.py:extract_canonical":
        "the reference canonical-link extraction Spark is compared against",
    _PKG + "spec.py:extract_alternates":
        "the reference hreflang extraction Spark is compared against",
    _PKG + "operators/aggregate.py:multiset_equal":
        "the row-multiset equality the parity checks use",
    _PKG + "sources/io.py:adversarial_pages_df":
        "the adversarial pages fixture that tests share",
    _PKG + "streaming/stream.py:read_count_min":
        "the read side of the kept count-min stream",
    _PKG + "streaming/stream.py:read_inverted_index":
        "the read side of the kept inverted-index stream",
    _PKG + "operators/cdc.py:live_rows":
        "the read side of the kept CDC snapshot stream",
    _PKG + "streaming/stream.py:stream_pages_from_warc":
        "the crawl-to-pipeline bridge the cross-batch streaming dedup "
        "builds on",
}


def _caller_files() -> list[Path]:
    bench = [p for p in sorted((ROOT / "webbench").rglob("*.py"))
             if "tests" not in p.relative_to(ROOT / "webbench").parts]
    return _program_files() + bench


def _loaded_names(node: ast.AST) -> tuple[set[str], set[str]]:
    """(bare names loaded, attribute names loaded or names imported)."""
    bare: set[str] = set()
    reach: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            bare.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            reach.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            reach.update(a.name for a in n.names)
    return bare, reach


def uncalled_defs(sources: dict[str, str], package: set[str]) -> list[str]:
    """`file:name` of every top-level undecorated def/class in the
    `package` files that no source (filename -> text) loads outside the
    definition itself. A bare name counts only in the defining file: in
    another file it is a local (a parameter, say) unless it was imported,
    and the import is counted."""
    defs: list[tuple[str, str]] = []
    bare_in: dict[str, set[str]] = {}
    reach: set[str] = set()
    for fname, src in sources.items():
        bare = bare_in.setdefault(fname, set())
        for node in ast.parse(src, fname).body:
            b, r = _loaded_names(node)
            if (fname in package
                    and isinstance(node, (ast.FunctionDef,
                                          ast.AsyncFunctionDef, ast.ClassDef))
                    and not node.decorator_list):
                defs.append((fname, node.name))
                b, r = b - {node.name}, r - {node.name}
            bare |= b
            reach |= r
    return sorted(f"{fname}:{name}" for fname, name in defs
                  if name not in bare_in[fname] | reach)


def test_caller_scanner_flags_only_defs_nothing_loads():
    pkg = ("def used(): pass\n"
           "def via_attr(): pass\n"
           "def imported(): pass\n"
           "def recursive(n): return recursive(n - 1)\n"
           "def _helper(): pass\n"
           "def dead(): return _helper()\n"
           "class Dead: pass\n"
           "@register('q')\n"
           "def q_registered(): pass\n"
           "def shadowed(): pass\n"
           "def param(): pass\n"
           "used()\n")
    caller = ("from pkg import imported\n"
              "import pkg\n"
              "pkg.via_attr()\n"
              "pkg.shadowed = None\n"
              "def run(param=True):\n"
              "    return param\n")
    found = uncalled_defs({"pkg.py": pkg, "caller.py": caller}, {"pkg.py"})
    assert found == ["pkg.py:Dead", "pkg.py:dead", "pkg.py:param",
                     "pkg.py:recursive", "pkg.py:shadowed"]


def test_package_defs_have_a_program_caller():
    sources = {str(p.relative_to(ROOT)): p.read_text()
               for p in _caller_files()}
    package = {f for f in sources if f.startswith("blog_parser_spark/")}
    found = set(uncalled_defs(sources, package))
    uncalled = sorted(found - CALLER_EXEMPT.keys())
    assert uncalled == [], ("defined in the package but called by no program "
                            "file (delete it, or exempt it with a reason):\n"
                            + "\n".join(uncalled))
    stale = sorted(CALLER_EXEMPT.keys() - found)
    assert stale == [], ("exempt, but gone or now called by a program file "
                         "(drop the exemption):\n" + "\n".join(stale))


_WRITE_MODE = re.compile(r"[wax+]")


def proc_sys_writes(source: str, filename: str = "<src>") -> list[int]:
    """Line of every call that opens a literal `/proc/sys` path for
    writing: `open`/`Path.open` with a w, a, x or + mode (or a mode that
    is not a literal), `os.open` with flags other than `O_RDONLY`, and
    `write_text`/`write_bytes` on `Path(<path>)`."""
    lines = []
    for n in ast.walk(ast.parse(source, filename)):
        if not isinstance(n, ast.Call):
            continue
        f = n.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        args = n.args
        if (name in ("write_text", "write_bytes", "open")
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Call)):
            args = f.value.args + n.args    # Path(<path>).<call>(...)
        if not (args and isinstance(args[0], ast.Constant)
                and str(args[0].value).startswith("/proc/sys")):
            continue
        mode = args[1] if len(args) > 1 else next(
            (k.value for k in n.keywords if k.arg in ("mode", "flags")), None)
        if name in ("write_text", "write_bytes"):
            writes = True
        elif name != "open":
            writes = False
        elif isinstance(f, ast.Attribute) and getattr(f.value, "id", "") == "os":
            writes = not (isinstance(mode, ast.Attribute)
                          and mode.attr == "O_RDONLY")
        else:
            writes = mode is not None and not (
                isinstance(mode, ast.Constant)
                and not _WRITE_MODE.search(str(mode.value)))
        if writes:
            lines.append(n.lineno)
    return sorted(lines)


def test_proc_sys_scanner_flags_writes_only():
    src = ("import os\n"
           "from pathlib import Path\n"
           "open('/proc/sys/vm/drop_caches', 'w')\n"
           "open('/proc/sys/vm/swappiness')\n"
           "open('/proc/stat', 'w')\n"
           "open('/proc/sys/kernel/x', mode='a')\n"
           "os.open('/proc/sys/vm/x', os.O_WRONLY)\n"
           "os.open('/proc/sys/vm/x', os.O_RDONLY)\n"
           "Path('/proc/sys/vm/x').write_text('1')\n"
           "Path('/proc/sys/vm/x').read_text()\n"
           "open('/proc/sys/vm/x', 'rb')\n"
           "open('/proc/sys/vm/x', m)\n")
    assert proc_sys_writes(src) == [3, 6, 7, 9, 12]


def test_program_files_write_no_proc_sys_setting():
    found = [f"{p.relative_to(ROOT)}:{ln}"
             for entry in ("blog_parser_spark", "tools")
             for p in sorted((ROOT / entry).rglob("*.py"))
             for ln in proc_sys_writes(p.read_text(), str(p))]
    assert found == [], "/proc/sys opened for writing:\n" + "\n".join(found)
