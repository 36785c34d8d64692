"""The zip-directory rule without Spark: an unchanged archive on
``sys.path`` is not re-read by ``importlib.invalidate_caches()``; a
rewritten one is, so a ``--py-files`` archive shipped mid-session still
imports."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from trek_spark.spark import udf  # noqa: F401  (installs the rule)
from trek_spark.spark import zip_directories


@pytest.fixture
def on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "shipped.zip")
    names = ("_zipdir_probe_a", "_zipdir_probe_b")
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    yield archive
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _write(archive, modules):
    with zipfile.ZipFile(archive, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_rule_installed_once():
    installed = zipimport.zipimporter.invalidate_caches
    zip_directories.keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed
    if sys.version_info >= (3, 13):
        assert installed is not zip_directories._invalidate_if_changed
    else:
        assert installed is zip_directories._invalidate_if_changed


def test_unchanged_archive_not_reread_changed_one_is(on_path, monkeypatch):
    _write(on_path, {"_zipdir_probe_a": 1})
    assert importlib.import_module("_zipdir_probe_a").VALUE == 1
    # The first invalidation after the archive's first read takes its stamp.
    importlib.invalidate_caches()

    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    for _ in range(3):
        importlib.invalidate_caches()
    assert on_path not in reads

    # A rewrite changes the size (and mtime): the directory is re-read
    # and the new module imports.
    _write(on_path, {"_zipdir_probe_a": 1, "_zipdir_probe_b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("_zipdir_probe_b").VALUE == 2
    if sys.version_info < (3, 13):
        assert reads.count(on_path) == 1
