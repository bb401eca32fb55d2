"""The Python worker daemon of the engine's own sessions: session.get_spark
names it in `spark.python.daemon.module`. It patches one method, then runs
`pyspark.daemon` unchanged, so every worker that daemon forks inherits the
patch.

PySpark's worker calls importlib.invalidate_caches() before every task.
Before Python 3.13 that makes each zip importer re-read its archive's whole
directory (a worker holds about 16: pyspark.zip, the spark-core jar, py4j,
the package zip), 100-120 ms per task on a 4-core VM. Here an importer
re-reads only when its archive's (st_mtime_ns, st_size) differs from what it
last read. Python 3.13 made the call lazy itself, so there zipimport is left
alone.

The file sits alone in its directory, which get_spark puts on the workers'
PYTHONPATH: the daemon imports this module, not the package."""

import os
import runpy
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None  # a missing archive always takes the original path
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_w32bd_stamp", None):
        _reread(self)
        self._w32bd_stamp = stamp


def patch_zipimport():
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import w32bd_daemon  # patch through the named module, not __main__

    w32bd_daemon.patch_zipimport()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
