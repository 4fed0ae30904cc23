"""zipcache: importlib.invalidate_caches() re-reads a zip archive's
directory only when the archive changed on disk."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import arcade_spark  # noqa: F401  (installs the stat-checked invalidation)


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"{pkg}/{name}.py", body)


def test_unchanged_zip_is_not_reread_and_rewrite_is_seen(tmp_path, monkeypatch):
    pkg = f"zc_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, pkg, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{pkg}.a").X == 1
        importlib.invalidate_caches()  # records the archive's signature

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, pkg, {"a": "X = 1\n", "b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(f"{pkg}.b").Y == 2
    finally:
        for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
