"""Keep zip-archive listings across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``setup_spark_files`` in ``pyspark/worker_util.py``).  On
CPython 3.10-3.12 that makes every ``zipimporter`` re-read its archive's
whole central directory — one re-read per ``pyspark.zip`` subpackage
importer, 16 per task for Spark 4's 1328-entry archive — which costs more
worker CPU than a small extract batch itself.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` changed since the
last read.  An archive rewritten in place (a redeployed ``--py-files``
zip) changes its size or mtime and is still re-read.  CPython 3.13 drops
the listing lazily instead of re-reading it, so there (and before 3.10,
where zipimporter has no such method) this does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> "tuple[int, int, int]":
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (the package imports this
    module once per interpreter)."""
    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or original is None:
        return
    read_at: "dict[str, tuple[int, int, int]]" = {}

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            return original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        # stamp taken BEFORE the read: a rewrite racing the read leaves a
        # stale stamp, so the next call re-reads rather than trusting it
        original(self)
        read_at[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches
