"""Share one central-directory read per zip archive across
``importlib.invalidate_caches()`` calls.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). When pyspark is
imported from ``pyspark.zip`` (``SPARK_HOME`` set), ``sys.path_importer_cache``
holds one ``zipimporter`` per imported subpackage, and before CPython 3.13
each one's ``invalidate_caches`` eagerly re-reads the whole archive
directory: ~0.25 s of CPU per task, more than a small map or reduce task
costs. CPython 3.13 made the re-read lazy, so there the stdlib method is
left alone. Here an archive is re-read only when its stat stamp changed,
and every importer of an unchanged archive shares the cached directory.

Where it is installed: under ``session.get_spark`` the package daemon
(``_daemon.py``) imports the package before it forks any worker, so the
patch is in place for every worker's first task. Importing the package
also installs it, which covers a vanilla ``SparkSession`` (the default
PySpark daemon): there a worker installs it when a task first unpickles
something from the package, after that task's own set-up.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
    # archive path -> (st_mtime_ns, st_size, st_ino) at its last directory read
    _read_stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        """Re-read the archive directory only if the file changed since
        the last read; otherwise reuse ``_zip_directory_cache``."""
        try:
            st = os.stat(self.archive)
        except OSError:
            _read_stamps.pop(self.archive, None)
            _stdlib_invalidate_caches(self)
            return
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamp taken before the read: a change racing the read leaves a
        # stale stamp, which only forces one more read next time
        _stdlib_invalidate_caches(self)
        _read_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
