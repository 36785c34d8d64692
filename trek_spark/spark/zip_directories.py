"""Keep a zip archive's directory across ``importlib.invalidate_caches()``
while the archive is unchanged on disk.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``) so that a ``--py-files`` archive shipped
mid-session becomes importable. On CPython 3.11 and 3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory: one importer per imported pyspark subpackage over
``pyspark.zip`` (1,328 entries), two over the spark-core jar (5,359) and
one over py4j, 0.2-0.45 s per task on a warm worker. 3.13 reads the
directory lazily and needs nothing here.

:func:`keep_unchanged_zip_directories` wraps
``zipimporter.invalidate_caches``: an importer keeps the cached directory
when its archive's ``(st_mtime_ns, st_size)`` equals the stamp taken at
the archive's last read, and re-reads it otherwise. A new or rewritten
archive has a new stamp, so it is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # Stamp before the read: an archive rewritten during it is re-read
    # at the next call.
    _original_invalidate(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def keep_unchanged_zip_directories() -> None:
    """Install the rule (idempotent; a no-op on Python >= 3.13).

    Installing reads each archive already on the path once to take its
    stamp, which the next ``invalidate_caches()`` would otherwise do."""
    if sys.version_info >= (3, 13) or \
            zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
