"""Python daemon for local-mode workers: ``pyspark.daemon`` plus a zipimport fix.

At the start of every task pyspark's worker calls
``importlib.invalidate_caches()``. Before CPython 3.12 (gh-103200) every
``zipimporter`` then re-reads its archive's whole central directory; a
worker holds about 16 importers on ``pyspark.zip`` (1,328 entries), which
costs about 0.3 s of CPU per task. ``install`` makes an importer re-read
only when the archive's ``(st_mtime_ns, st_size)`` changed since the last
read, and otherwise point at the shared ``_zip_directory_cache`` entry.
Spark starts this module with ``python -m`` (see ``gjspark.session``);
the forked workers inherit the patch, so it reaches every task, also
UDFs that never import ``gjspark``. On Python 3.12+ it changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stamps.pop(self.archive, None)
        return _STOCK(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _STOCK(self)  # stamp taken before the read: a concurrent rewrite re-reads
    _read_stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager  # also imports the worker module

    # stamp every archive imported from so far, so forked workers start
    # with up-to-date stamps instead of one re-read each
    importlib.invalidate_caches()
    manager()
