"""Skip zip-directory re-reads for archives that have not changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
worker task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10–3.12 that makes every ``zipimport.zipimporter`` re-read its archive's
whole central directory: a Python worker holds about 15 importers over
``pyspark.zip`` and the py4j zip (plus one per ``--py-files`` archive), and
the re-reads cost about 150 ms of CPU per task.  CPython 3.13 made the
method lazy, so only 3.10–3.12 are patched.

The guard keeps the stdlib semantics — an archive that changed is re-read —
but keys the re-read on the archive's ``(st_mtime_ns, st_size)``.  An
archive is re-read when that stamp differs from the one taken before its
last read, when ``stat`` fails, or when ``zipimport._zip_directory_cache``
holds nothing for it.  Importers of one archive share a single re-read:
the first one re-reads and refreshes the shared cache entry, the others take
that cached dict.

:func:`install` runs when :mod:`engine` is imported, which every engine
reader and UDF does when it unpickles an ``engine.*`` function, so each
reused Python worker is guarded from its second task on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_PATCHED_VERSIONS = ((3, 10), (3, 11), (3, 12))

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` on CPython 3.10–3.12 (once;
    a second call changes nothing).  Archives already in the directory
    cache are stamped now, as read.  Returns whether the guard is active."""
    if sys.version_info[:2] not in _PATCHED_VERSIONS:
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_zipguard", False):
        return True

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if (stamp is not None and cached is not None
                and _stamps.get(archive) == stamp):
            self._files = cached
            return
        stdlib(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)

    invalidate_caches._zipguard = True
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps.setdefault(archive, stamp)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
