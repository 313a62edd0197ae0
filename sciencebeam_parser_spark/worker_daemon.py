"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every pyspark task starts with ``importlib.invalidate_caches()``, and on
CPython 3.11 each ``zipimporter`` answers it by re-reading its archive's
whole central directory: ~16 importers over ``pyspark.zip``, the py4j zip
and the spark-core jar, ~128 ms CPU per task on a warm worker. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since it last read it, so an archive that ``addPyFile``
replaces is still picked up.

``get_spark`` sets it as ``spark.python.daemon.module``; forked workers
inherit the patched class. Keep this module import-light: it runs before
the daemon forks, so no pandas or pyarrow here.
"""
import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stat = None
    if stat is None or getattr(self, "_read_stat", None) != stat:
        _reread(self)
        self._read_stat = stat


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    import pyspark.daemon  # reads the worker module from sys.argv[1]

    # one read per importer the workers inherit, recording each stat
    importlib.invalidate_caches()
    pyspark.daemon.manager()
