"""Keep zip-archive import directories across ``importlib.invalidate_caches``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On CPython 3.10-3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory at once
(pyspark.zip, py4j's zip and the spark-core jar: about 0.25 CPU-s per task,
before the task reads a row).  :func:`install` replaces
``zipimporter.invalidate_caches`` with :func:`_invalidate_caches`, which
keeps the cached directory while the archive's ``(st_mtime_ns, st_size)``
is the one seen at its last re-read, and falls back to the original re-read
when either changed.  CPython 3.13 re-reads lazily and keeps its own method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly."""
    if (3, 10) <= sys.version_info[:2] < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
