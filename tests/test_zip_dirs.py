"""session.keep_unchanged_zip_dirs: a zipimporter re-reads its archive's
directory on importlib.invalidate_caches() only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from isimip_qa_spark.session import keep_unchanged_zip_dirs

MODS = ("zipdirs_a", "zipdirs_b")


def _write(path, *mods):
    """(Re)write the zip archive at `path` with one module per name."""
    with zipfile.ZipFile(path, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """The path of a zip archive on sys.path holding module zipdirs_a; the
    helper's install is undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    path = str(tmp_path / "mods.zip")
    _write(path, MODS[0])
    monkeypatch.syspath_prepend(path)
    yield path
    for m in MODS:
        sys.modules.pop(m, None)


def _importer(path):
    importlib.import_module("zipdirs_a")
    imp = sys.path_importer_cache[path]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def _count_reads(monkeypatch, path):
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(zip_path, monkeypatch):
    imp = _importer(zip_path)
    reads = _count_reads(monkeypatch, zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()  # nothing recorded yet: reads, as before
    assert len(reads) == 1
    files = imp._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert imp._files is files


def test_rewritten_zip_is_reread(zip_path, monkeypatch):
    imp = _importer(zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zipdirs_b")
    _write(zip_path, *MODS)  # same path, new content
    reads = _count_reads(monkeypatch, zip_path)
    importlib.invalidate_caches()
    assert reads == [zip_path]
    assert importlib.import_module("zipdirs_b").NAME == "zipdirs_b"
    assert "zipdirs_b.py" in imp._files


def test_vanished_zip_keeps_original_behaviour(zip_path):
    imp = _importer(zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()
    os.remove(zip_path)
    importlib.invalidate_caches()  # os.stat fails: re-read, which empties it
    assert imp._files == {}


def test_second_install_wraps_once(zip_path):
    original = zipimport.zipimporter.invalidate_caches
    keep_unchanged_zip_dirs()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original
    keep_unchanged_zip_dirs()
    assert zipimport.zipimporter.invalidate_caches is wrapped
