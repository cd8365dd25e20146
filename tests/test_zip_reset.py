"""Lazy per-task zip-cache reset (blog_parser_spark._zipimport_compat).

PySpark calls importlib.invalidate_caches() before every Python task.
Before CPython 3.13 that re-read every zip archive on sys.path; the
package backports 3.13's behaviour, re-reading an archive only when it
changed on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import blog_parser_spark  # noqa: F401  (installs the lazy reset)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_not_reread_and_replaced_archive_seen(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    sibling = zipimport.zipimporter(archive)  # a second importer, same zip
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        import zmod_a
        assert zmod_a.VALUE == "a"
        importlib.invalidate_caches()
        sibling.invalidate_caches()
        assert reads == []

        # replaced on disk: new size and mtime, so the next reset re-reads
        st = os.stat(archive)
        _write_zip(archive, {"zmod_a": "VALUE = 'a'\n",
                             "zmod_b": "VALUE = 'b'\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        import zmod_b
        assert zmod_b.VALUE == "b"
        # the sibling picks up the re-read directory without its own read
        n_reads = len(reads)
        sibling.invalidate_caches()
        assert sibling.find_spec("zmod_b") is not None
        assert len(reads) == n_reads
    finally:
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_worker_runs_the_lazy_reset(spark):
    """Inside a Python worker, once a UDF imports the package, the
    per-task reset is the package's lazy one (on Python < 3.13)."""
    def probe(batches):
        import zipimport
        import blog_parser_spark  # noqa: F401
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [fn.__module__],
                                "old": [sys.version_info < (3, 13)]})

    got = {tuple(r) for r in
           spark.range(4).mapInPandas(probe, "module string, old boolean")
           .collect()}
    assert got in ({("blog_parser_spark._zipimport_compat", True)},
                   {("zipimport", False)}), got
