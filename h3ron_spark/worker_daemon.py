"""PySpark Python-worker daemon for h3ron_spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
each executor starts it once as ``python -m h3ron_spark.worker_daemon``
and it forks every Python UDF worker. Before it hands over to
``pyspark.daemon.manager()`` it prepares two things the forked workers
inherit:

1. ``zipimport.zipimporter.invalidate_caches`` re-reads an archive's
   directory only when the archive changed. PySpark calls
   ``importlib.invalidate_caches()`` at the start of every task
   (``worker_util.setup_spark_files``). On CPython <= 3.12 that makes
   every zipimporter re-parse its archive's whole directory in pure
   Python, and the workers import pyspark from ``pyspark.zip`` (1,328
   entries) through 14-16 importers: 77-126 ms of fixed cost per UDF
   task. CPython 3.13 defers the re-read; the check here is correct
   under both.
2. The h3core lookup tables are built once, so a worker forked in the
   middle of a query does not spend ~1 s importing h3core and deriving
   them.

The JVM reads the daemon's port from its stdout, so nothing may be
written there before ``manager()``.
"""

from __future__ import annotations

import contextlib
import os
import sys
import traceback
import zipimport

# archive path -> (st_mtime_ns, st_size) of the archive when this
# process last read (or, at install(), last trusted) its directory
_read_stamps: dict[str, tuple[int, int] | None] = {}
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive's mtime or
    size changed since this process last read it; otherwise point this
    importer at the directory already cached for the archive. One
    re-read serves every importer of the same archive."""
    # stat before reading: a change that races the read costs one
    # more re-read later, never a stale directory
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` for this process and the
    processes it forks. The directories already cached are trusted as
    of their archives' state now."""
    for archive in list(zipimport._zip_directory_cache):
        _read_stamps.setdefault(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def _preload() -> None:
    from h3ron_spark.h3core import derive
    from h3ron_spark.h3core import vectorized

    derive.precompute()
    vectorized._luts()
    vectorized._decode_tables()


def main() -> None:
    # imported first so the pyspark archive it is read from is trusted
    from pyspark import daemon

    install()
    with contextlib.redirect_stdout(sys.stderr):
        try:
            _preload()
        except Exception:  # best-effort; workers build the tables lazily
            print("h3ron_spark: worker daemon preload failed", file=sys.stderr)
            traceback.print_exc()
    daemon.manager()


if __name__ == "__main__":
    # run the imported module, not this ``__main__`` copy, so the patch
    # and its state live under the module's own name
    from h3ron_spark import worker_daemon

    worker_daemon.main()
