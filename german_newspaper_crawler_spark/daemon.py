"""Spark's Python worker daemon, minus the per-task zip directory re-read.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython 3.11 each
``zipimport.zipimporter`` answers that call by re-reading its archive's
central directory, unconditionally. A worker holds one zipimporter per
package directory it imported from ``pyspark.zip`` (1,328 entries) and the
py4j zip (14 in all), so the same two directories are parsed again on every
task: about 70 ms of CPU per task on a 4-vCPU x86 host.

Here the daemon replaces that method, before it forks any worker, with one
that re-reads an archive only when the archive's size, mtime or inode has
changed since it was last read. A zip that is rewritten in place (say, a
``--py-files`` archive replaced between jobs) is still re-read, so a module
added to it imports after the next ``invalidate_caches()``.

``session.get_spark`` selects this module through
``spark.python.daemon.module``; Spark starts it as ``python -m``.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def stamped(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` so that it calls ``invalidate``
    only when the archive changed since the last call for that archive.
    An importer that skips the re-read takes the directory the last re-read
    left in zipimport's shared cache."""
    read_at: dict[str, tuple] = {}

    def invalidate_caches(self):
        # stat before reading: a change during the read shows next time
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and read_at.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        invalidate(self)
        read_at[self.archive] = stamp

    return invalidate_caches


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = stamped(
        zipimport.zipimporter.invalidate_caches
    )
    from pyspark.daemon import manager

    # stamp the archives pyspark was imported from, so forked workers
    # inherit the stamps and skip the re-read from their first task on
    importlib.invalidate_caches()
    manager()
