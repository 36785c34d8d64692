"""PySpark's daemon, with pyspark and py4j loaded from an installed copy.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip
first on a Python worker's path. The zips hold sources only, and zipimport
cannot cache bytecode, so every new daemon compiles pyspark again: importing
``pyspark.daemon`` and ``pyspark.worker`` takes 0.70-0.75 s from the zip
against 0.13-0.31 s from an installed copy's ``__pycache__`` (4-core host,
pyspark 4.1.2).

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it for
``local*`` masters), this module takes such a zip off ``sys.path`` when the
copy the import would then find is a directory holding the same package:
the same ``version.py`` and the same size for every ``.py`` file both
copies have. It then runs ``pyspark.daemon`` unchanged, with the same argv
and worker module; forked workers inherit the path. Anything else on the
path, and any zip without a matching installed copy, stays as it is.
The imported objects are frozen (``gc.freeze()``) before the workers fork.
"""

from __future__ import annotations

import fnmatch
import gc
import importlib.machinery
import os
import sys
import zipfile
import zipimport

# Source zips Spark puts on the worker path, by the package each holds.
_SOURCE_ZIPS = {"pyspark.zip": "pyspark", "py4j-*-src.zip": "py4j"}


def _zip_package(entry: str) -> str | None:
    name = os.path.basename(entry)
    return next((pkg for pattern, pkg in _SOURCE_ZIPS.items()
                 if fnmatch.fnmatchcase(name, pattern)), None)


def _same_package(archive: str, package: str, installed: str) -> bool:
    """``installed`` (a package directory) has ``archive``'s
    ``version.py`` byte for byte and the same size for every ``.py`` file
    both hold."""
    prefix = package + "/"
    try:
        with zipfile.ZipFile(archive) as zf:
            version = zf.read(prefix + "version.py")
            sizes = {i.filename[len(prefix):]: i.file_size
                     for i in zf.infolist()
                     if i.filename.startswith(prefix)
                     and i.filename.endswith(".py")}
        with open(os.path.join(installed, "version.py"), "rb") as f:
            if f.read() != version:
                return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    for rel, size in sizes.items():
        try:
            if os.stat(os.path.join(installed, rel)).st_size != size:
                return False
        except FileNotFoundError:
            continue
    return True


def without_shadowing_zips(path: list[str]) -> list[str]:
    """``path`` without each pyspark or py4j source zip whose package the
    rest of ``path`` would import from a matching directory."""
    kept = list(path)
    for entry in path:
        package = _zip_package(entry)
        if package is None:
            continue
        rest = [p for p in kept if p != entry]
        spec = importlib.machinery.PathFinder.find_spec(package, rest)
        if spec is not None \
                and isinstance(spec.loader, importlib.machinery.SourceFileLoader) \
                and _same_package(entry, package, os.path.dirname(spec.origin)):
            kept = rest
    return kept


def main() -> None:
    kept = without_shadowing_zips(sys.path)
    for entry in set(sys.path) - set(kept):
        # Finding this module already opened the dropped zips.
        sys.path_importer_cache.pop(entry, None)
        zipimport._zip_directory_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark import daemon
    # The daemon runs gc.collect() after every task on a reused worker;
    # freezing the import graph before the workers fork keeps those
    # collections off it (4-core host: p50 23-27 -> 13-15 ms per task,
    # worker RSS no higher).
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
