"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache,
forking its workers from a frozen, pre-imported heap.

Every pyspark task starts with ``importlib.invalidate_caches()``, and on
CPython 3.11 each ``zipimporter`` answers it by re-reading its archive's
whole central directory: ~16 importers over ``pyspark.zip``, the py4j zip
and the spark-core jar, ~128 ms CPU per task on a warm worker. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since it last read it, so an archive that ``addPyFile``
replaces is still picked up.

After every task the forked worker runs a full ``gc.collect()``, which
walks every object the worker holds: ~77k in a warm Arrow worker, ~40 ms
CPU a task. So before the daemon forks, :func:`prepare_fork` imports the
Arrow stack that the workers would otherwise import on their first
Arrow task (pandas, pyarrow, pyspark's Arrow serializers) and then calls
``gc.freeze()``, the pre-fork pattern of the ``gc`` docs: the workers
inherit the imports and a permanent generation that their collections
skip, so each walks only what was made after the fork. Nothing from this
package is imported here (the kernels stay importable from a changed
checkout), and the freeze comes last, after every import. The daemon
forks with threads running (numpy's OpenBLAS pool, pyarrow's jemalloc
background thread); both libraries reset them in the child, which
``tests/test_worker_daemon.py`` checks with forked Arrow round trips.

``get_spark`` sets it as ``spark.python.daemon.module``; forked workers
inherit the patched class, the imports and the frozen generation.
"""
import gc
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


def prepare_fork():
    """The daemon's set-up before its first fork: record each importer's
    stat, import the Arrow stack, freeze everything allocated so far."""
    # one read per importer the workers inherit, recording each stat
    importlib.invalidate_caches()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.ipc  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    gc.freeze()


if __name__ == "__main__":
    import pyspark.daemon  # reads the worker module from sys.argv[1]

    prepare_fork()
    pyspark.daemon.manager()
