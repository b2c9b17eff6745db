"""Skip zipimport's directory re-read for archives that have not changed.

On Python 3.11 and 3.12, ``zipimporter.invalidate_caches()`` re-reads the
whole central directory of its archive, once per importer. A PySpark
worker calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``) and holds over a dozen importers on
``pyspark.zip``, so every task re-reads the same unchanged zips. After
``install()``, an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken at its last read;
a new, replaced or unreadable archive is still re-read.
"""

from __future__ import annotations

import functools
import os
import zipimport

_reread = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                  zipimport.zipimporter.invalidate_caches)

#: archive path -> ``(st_mtime_ns, st_size)`` taken just before its last re-read
_stamps: dict[str, tuple[int, int] | None] = {}


@functools.wraps(_reread)
def _invalidate_caches(self):
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        stamp = None
    else:
        stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and stamp == _stamps.get(archive) and cached is not None:
        # already re-read at this stamp, by this importer or another on the archive
        self._files = cached
        return
    _reread(self)
    _stamps[archive] = stamp


def install() -> None:
    """Route every ``zipimporter.invalidate_caches`` through the stamp check.

    Idempotent: a second call (or a re-import of this module) installs the
    same wrapper around the original method.
    """
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
