"""Python daemon for local-mode workers: ``pyspark.daemon`` started from bytecode.

Spark starts this module with ``python -m`` (see ``gjspark.session``). Its
``__main__`` does three things before ``pyspark.daemon`` forks the
workers; the forked workers inherit all of them, so they reach every
task, also UDFs that never import ``gjspark``:

- **Import the installed pyspark.** Spark puts
  ``$SPARK_HOME/python/lib/pyspark.zip`` first on the workers' path. The
  zip holds only ``.py`` files and zipimport never caches bytecode, so
  each daemon start compiled all of pyspark again (about 1.4 s for
  ``import pyspark.daemon``, against 0.3 s from a byte-compiled install).
  ``prefer_installed_pyspark`` moves the zip behind a later path entry
  holding a ``pyspark/`` package whose ``version.py`` bytes equal the
  zip's; in every other case the path stays as Spark built it.
- **Preload the Arrow stack.** Every Arrow UDF imports ``pandas`` and
  ``pyarrow``; ``preload_arrow`` imports them once here, so workers fork
  with them loaded instead of importing them each (about 0.45 s a worker).
- **Backport the zipimport fix.** At the start of every task pyspark's
  worker calls ``importlib.invalidate_caches()``. Before CPython 3.12
  (gh-103200) every ``zipimporter`` then re-reads its archive's whole
  central directory (about 0.3 s of CPU per task with ``pyspark.zip`` on
  the path). ``install`` makes an importer re-read only when the
  archive's ``(st_mtime_ns, st_size)`` changed since the last read, and
  otherwise point at the shared ``_zip_directory_cache`` entry. It still
  serves the py4j zip, Spark's own jars and the ``pyspark.zip``
  fallback; on Python 3.12+ it changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
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


def prefer_installed_pyspark() -> None:
    """Move ``pyspark.zip`` on ``sys.path`` behind an installed pyspark of
    the same release.

    The installed copy is the first entry after the zip that holds a
    ``pyspark/`` package; it is the same release when its
    ``pyspark/version.py`` has the zip's bytes (read without importing).
    No zip, no installed copy, another release or an unreadable file
    leave ``sys.path`` unchanged.
    """
    names = [os.path.basename(e) for e in sys.path]
    if "pyspark.zip" not in names:
        return
    i = names.index("pyspark.zip")
    for j in range(i + 1, len(sys.path)):
        installed = os.path.join(sys.path[j], "pyspark")
        if os.path.isfile(os.path.join(installed, "__init__.py")):
            break
    else:
        return
    try:
        with zipfile.ZipFile(sys.path[i]) as z:
            zipped = z.read("pyspark/version.py")
        with open(os.path.join(installed, "version.py"), "rb") as f:
            same = f.read() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    if same:
        sys.path.insert(j, sys.path.pop(i))


def preload_arrow() -> None:
    """Import ``pandas`` and ``pyarrow`` so forked workers inherit them.

    pyarrow's jemalloc starts a background purge thread when it
    initialises, and a process should not fork with threads running. A
    forked child never gets that thread anyway (jemalloc turns background
    threads off after ``fork``), so the import runs with it off, ahead of
    any ``JE_ARROW_MALLOC_CONF`` the caller set; the variable is restored
    afterwards.
    """
    conf = os.environ.get("JE_ARROW_MALLOC_CONF")
    os.environ["JE_ARROW_MALLOC_CONF"] = ",".join(
        c for c in ("background_thread:false", conf) if c
    )
    try:
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError:
        pass
    finally:
        if conf is None:
            del os.environ["JE_ARROW_MALLOC_CONF"]
        else:
            os.environ["JE_ARROW_MALLOC_CONF"] = conf


if __name__ == "__main__":
    install()
    prefer_installed_pyspark()
    preload_arrow()
    from pyspark.daemon import manager  # also imports the worker module

    # stamp every archive imported from so far, so forked workers start
    # with up-to-date stamps instead of one re-read each
    importlib.invalidate_caches()
    manager()
