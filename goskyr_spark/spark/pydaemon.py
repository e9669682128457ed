"""PySpark daemon that rereads a zip archive's directory only when the
archive changed.

Before each task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python >= 3.10 that
makes every ``zipimporter`` on the path reread its archive's central
directory: ``pyspark.zip`` once per subpackage importer and the
spark-core jar, about 0.2 s per task on a reused worker. Here an
archive is reread only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken before its last read; the workers fork from this
daemon, so every task inherits the patch. ``get_spark()`` selects this
module for local masters only (``spark.python.daemon.module``). It must
write nothing to stdout: the daemon reports its port there.
"""

import os
import sys
import zipimport

import pyspark.daemon

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive -> (st_mtime_ns, st_size) taken before its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self):
    """zipimporter.invalidate_caches that keeps the shared directory
    while the archive's stamp matches the one of its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install():
    """Patch zipimporter and stamp every archive the process has open
    (one directory read each), so forked workers start from stamps."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


if __name__ == "__main__":
    install()
    pyspark.daemon.manager()
