"""Python worker daemon for engine sessions.

Spark starts it as ``spark.python.daemon.module`` (``SessionFactory``
sets that); it is pyspark's own daemon with one change made before the
daemon forks any worker, on Python < 3.13 only.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()`` so that files shipped with
``addFile``/``addPyFile`` become importable. On CPython 3.10-3.12 that
call makes every ``zipimport.zipimporter`` on ``sys.path`` (one per
package imported from an archive, 16 for ``pyspark.zip`` in a worker)
re-read its archive's central directory at once: 130-270 ms of CPU per
task for the 1,328-entry ``pyspark.zip``. CPython 3.13 made the method
lazy: ``zipimporter.invalidate_caches`` only drops the archive from
``zipimport._zip_directory_cache``, and ``zipimporter._get_files``
reads the directory again on the next lookup, once for all importers of
that archive.

``install`` backports the part of that which matters here: an archive's
directory is read again only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since this process last read it; otherwise the
importer is pointed at the shared cache entry. After a change, or when
``stat`` fails, the stdlib method runs as before, so a rewritten
archive or a new ``addPyFile`` zip imports as it always did. Like
Python's mtime-and-size check of a ``.pyc`` against its source, the
stamp misses an in-place rewrite that keeps the size within one tick of
the file system's clock. ``FileFinder`` invalidation (new ``.py``
files in a directory) is not touched. Run as ``python -m
scio_db_spark.python_daemon`` it installs the patch, reads each archive
once and hands over to ``pyspark.daemon.manager()``; forked workers
inherit both.
"""

from __future__ import annotations

import os
import sys
import zipimport

# pyspark needs Python 3.10+, and 3.13 made the stdlib method lazy.
PATCHED_PYTHON = sys.version_info < (3, 13)

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) when this process last read it
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the file changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    unchanged = stamp is not None and stamp == _read_stamps.get(self.archive)
    if unchanged and files is not None:
        self._files = files
        return
    # Stamp taken before the read: a change during the read only costs
    # one more read next time, never a stale directory.
    _stdlib_invalidate_caches(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process.

    Returns whether the patch is in place; on Python 3.13 and later the
    stdlib method is left as it is.
    """
    if PATCHED_PYTHON:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return PATCHED_PYTHON


if __name__ == "__main__":
    import importlib

    # Patch through the imported module, not this __main__ copy, so the
    # process holds one stamp table and one saved stdlib method.
    from scio_db_spark.python_daemon import install as _install

    _install()
    from pyspark import daemon

    # One read per archive here, so no forked worker reads one again.
    importlib.invalidate_caches()
    daemon.manager()
