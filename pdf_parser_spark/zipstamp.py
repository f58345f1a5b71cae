"""Keep a zip archive's import directory while the archive is unchanged.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task.  On CPython 3.10 and 3.11 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's central directory at once, in pure Python.  A worker holds about
16 of them (one per imported subpackage of ``pyspark.zip``, two over the
Spark core jar), so each task paid 0.15-0.28 s before its first row.

``install()`` wraps ``zipimporter.invalidate_caches``: when the archive's
``(st_mtime_ns, st_size)`` equals the stamp taken just before its last read,
the importer takes the cached directory instead of reading the file again.
An archive that changed, or that cannot be stat'ed, is re-read exactly as
before.  The first invalidation after ``install()`` always reads, because
the directory cached before it carries no stamp.  The wrapper relies on
3.10/3.11's zipimporter internals (``_files``, ``_zip_directory_cache``);
on other releases ``install()`` does nothing.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size


def _wrap(reread):
    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _stat(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    return invalidate_caches


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process; returns
    whether the wrapper is in place."""
    if not (3, 10) <= sys.version_info[:2] < (3, 12):
        return False
    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "__wrapped__"):
        zipimport.zipimporter.invalidate_caches = _wrap(current)
    return True
