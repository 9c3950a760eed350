"""Python worker daemon with preloaded scientific imports.

Spark launches one Python daemon per executor (``python -m
<spark.python.daemon.module>``) and forks a worker from it per task;
with ``spark.python.worker.reuse`` the fork survives across tasks, but
the FIRST task on each of N executor threads still pays the worker's
import of pandas + numpy + pyarrow after the fork. On local[32] that
is 32 concurrent cold imports (~5 s wall measured; the dominant term
of q_image_phash_pairs' cold-start, VERDICT r11 #3), and on a real
cluster it recurs per executor × per worker.

Importing the heavy modules HERE — in the daemon, before any fork —
makes every worker inherit them copy-on-write: first-task import cost
drops to ~0 and the resident memory is shared across all workers of an
executor. Wired via ``spark.python.daemon.module`` in
``session.get_spark`` (fork-capable platforms only; Spark falls back
to plain workers where fork is unavailable).

Two more steps run before the daemon forks:

- **Stat-keyed zip directory invalidation (CPython 3.10-3.12).** The
  worker calls ``importlib.invalidate_caches()`` once per task
  (``pyspark/worker_util.py``, ``setup_spark_files``). On these versions
  ``zipimporter.invalidate_caches`` re-reads its archive's whole central
  directory, and a worker holds one zipimporter per imported pyspark
  subpackage (each re-reading ``pyspark.zip``) plus one for the
  spark-core jar Spark puts on the worker ``PYTHONPATH``: 130-330 ms per
  task on a 4-core host. :func:`keep_zip_directories` makes the re-read
  happen only when the archive's ``(st_mtime_ns, st_size, st_ino)``
  changed since its last read, so a changed or newly added archive (an
  ``sc.addPyFile`` zip) is still read. CPython 3.13 made the method lazy
  and versions without it never re-read; both are left untouched.
- **``gc.freeze()`` (every version).** A reused worker runs
  ``gc.collect()`` after every task (``pyspark/daemon.py``). With the
  preloaded stack that walks every inherited object (~40 ms per task on
  a 4-core host) and dirties the shared pages, forcing copy-on-write
  copies. Frozen objects are skipped (~0.3 ms).
"""

import gc
import os
import sys
import zipimport

# Preload the Arrow serialization stack so forked workers never import
# it cold. Order matters only for readability; failures fall through —
# a missing optional module must not take down the daemon.
try:  # noqa: SIM105
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
except Exception:  # noqa: BLE001 — preloading is best-effort
    pass

from pyspark.daemon import manager


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def keep_zip_directories() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a stat-keyed one and
    seed its table from the zipimporters already imported from, so forked
    workers skip the re-read from their first task on. A no-op where the
    method is absent or already lazy (CPython >= 3.13)."""
    cls = zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or reread is None:
        return
    cache = zipimport._zip_directory_cache
    read_at: dict = {}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        if key is not None and self.archive in cache:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    cls.invalidate_caches = invalidate_caches
    # The daemon read these directories moments ago, in this process.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and finder.archive in cache:
            key = _stat_key(finder.archive)
            if key is not None:
                read_at[finder.archive] = key


if __name__ == "__main__":
    keep_zip_directories()
    gc.freeze()
    manager()
