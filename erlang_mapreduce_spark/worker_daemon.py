"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

Spark starts this module once per executor and Python environment; the
module then forks one worker per Python task slot, as ``pyspark.daemon``
does. Two things differ:

- Every worker inherits the engine package, which the daemon imported when
  ``python -m`` loaded this module, instead of importing it per worker.
- ``zipimport.zipimporter.invalidate_caches`` is stat-checked. PySpark calls
  ``importlib.invalidate_caches()`` at the start of every task, and the
  stock method re-reads the whole central directory of the archive of each
  zipimporter (one per package directory imported from ``pyspark.zip``, so
  a dozen or more reads per task). The patched method re-reads an
  archive's directory only when the archive's ``(st_size, st_mtime_ns)``
  differs from the last read, so a zip rewritten in place (an
  ``addPyFile`` overwrite) is still picked up.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> (st_size, st_mtime_ns) taken just before its directory
# was last read into zipimport._zip_directory_cache
_READ_AT: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Stat-checked ``zipimporter.invalidate_caches``: re-read the archive's
    directory only when the archive changed since the last read. Importers
    sharing an archive share that one read through zipimport's cache."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _READ_AT.pop(self.archive, None)
        _reread(self)  # the stock method handles a vanished archive
        return
    stamp = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _READ_AT.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _READ_AT[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, then read
    each archive imported from so far once, so the workers forked later
    start with every stamp recorded. Idempotent."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
