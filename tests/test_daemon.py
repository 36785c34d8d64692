"""The daemon's path rule without Spark: a pyspark or py4j source zip
leaves the path only when the import would then find a directory holding
the same package; no other zip on the path is touched."""

import sys
import zipfile
import zipimport

import pytest

from trek_spark.spark.daemon import without_shadowing_zips

PYSPARK = {"__init__.py": "from .version import __version__\n",
           "version.py": "__version__: str = '4.1.2'\n",
           "worker.py": "def main():\n    pass\n"}
PY4J = {"__init__.py": "", "version.py": "__version__ = '0.10.9.9'\n"}


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, package, files):
    for name, text in files.items():
        f = root / package / name
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(text)


@pytest.fixture
def layout(tmp_path):
    """A worker path as Spark builds it: the cwd, the two source zips, the
    spark-core jar, the stdlib zip, then site-packages."""
    lib = tmp_path / "lib"
    lib.mkdir()
    site = tmp_path / "site-packages"
    site.mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", {
        **{f"pyspark/{n}": t for n, t in PYSPARK.items()},
        "pyspark/tests/only_in_zip.py": "x = 1\n"})
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip",
                    {f"py4j/{n}": t for n, t in PY4J.items()})
    jar = _zip(tmp_path / "spark-core_2.13-4.1.2.jar",
               {"org/apache/spark/SparkContext.class": "class"})
    stdlib = _zip(tmp_path / "python311.zip", {"stdlib_mod.py": ""})
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, stdlib, str(site)]
    yield path, site
    for entry in path:
        sys.path_importer_cache.pop(entry, None)
        zipimport._zip_directory_cache.pop(entry, None)


def test_zips_dropped_when_installed_copy_matches(layout):
    path, site = layout
    _tree(site, "pyspark", {**PYSPARK, "only_installed.py": "y = 2\n"})
    _tree(site, "py4j", PY4J)
    assert without_shadowing_zips(path) == [path[0], *path[3:]]


@pytest.mark.parametrize("change", [
    {"version.py": "__version__: str = '4.1.1'\n"},
    {"worker.py": "def main():\n    return 1\n"},
])
def test_zip_kept_when_installed_copy_differs(layout, change):
    path, site = layout
    _tree(site, "pyspark", {**PYSPARK, **change})
    _tree(site, "py4j", PY4J)
    assert without_shadowing_zips(path) == [*path[:2], *path[3:]]


def test_zips_kept_without_installed_copy(layout):
    path, _ = layout
    assert without_shadowing_zips(path) == path


def test_zip_kept_when_another_zip_would_shadow_the_copy(layout):
    """The copy compared is the one the import would load: a zip holding
    pyspark ahead of site-packages keeps the source zip on the path."""
    path, site = layout
    _tree(site, "pyspark", PYSPARK)
    _tree(site, "py4j", PY4J)
    other = _zip(site.parent / "other.zip",
                 {f"pyspark/{n}": t for n, t in PYSPARK.items()})
    path.insert(4, other)
    assert without_shadowing_zips(path) == [*path[:2], *path[3:]]
