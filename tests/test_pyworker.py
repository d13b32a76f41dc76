"""The zipimport patch in ``_pyworker``: one directory read per unchanged
archive across ``importlib.invalidate_caches()``, and a changed archive
is still re-read. No Spark needed."""

from __future__ import annotations

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

import mit_6_5840_mapreduce_with_go_spark  # noqa: F401  (installs the patch)

PATCHED = sys.version_info < (3, 13)
MODULES = ("zpa", "zpa.sub", "zpa.sub.leaf", "zpb", "zpb.leaf", "zp_gone", "zp_new")


def _write_zip(path, extra: dict[str, str]) -> None:
    members = {
        "zpa/__init__.py": "",
        "zpa/sub/__init__.py": "",
        "zpa/sub/leaf.py": "X = 1\n",
        "zpb/__init__.py": "",
        "zpb/leaf.py": "X = 2\n",
        **extra,
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, {"zp_gone.py": "X = 3\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_patch_installed_only_before_313():
    owner = zipimport.zipimporter.invalidate_caches.__module__
    assert owner == ("mit_6_5840_mapreduce_with_go_spark._pyworker" if PATCHED else "zipimport")


def test_unchanged_archive_read_at_most_once(archive, monkeypatch):
    importlib.import_module("zpa.sub.leaf")
    importlib.import_module("zpb.leaf")
    importers = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(importers) >= 3  # the archive root, zpa, zpa/sub, zpb

    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) <= 1
    importlib.invalidate_caches()
    assert len(reads) <= 1
    assert importlib.import_module("zp_gone").X == 3


def test_rewritten_archive_is_reread(archive):
    importlib.import_module("zpa.sub.leaf")
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zp_gone") is not None
    assert importlib.util.find_spec("zp_new") is None

    _write_zip(archive, {"zp_new.py": "X = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zp_new").X == 4
    assert importlib.util.find_spec("zp_gone") is None
    with pytest.raises(ImportError):
        importlib.import_module("zp_gone")
