"""Python-worker bootstrap for every session this engine builds.

``session.get_spark`` puts this directory first on the Python workers'
``PYTHONPATH``; the interpreter's ``site`` module imports
``sitecustomize`` at startup, before ``pyspark.worker`` or a Python
DataSource planner runner reads its first command. It is a
``sitecustomize`` and not a ``spark.python.daemon.module`` because the
planner runners (write setup, commit, read planning, filter pushdown)
are started fresh, not forked from the daemon.

1. Zip rescans. ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` for every task and every planner
   call. On CPython 3.11 that makes each ``zipimporter`` on the path
   re-read its whole archive directory (pyspark.zip a dozen times, the
   py4j zip and the spark-core jar twice each): 150-250 ms per worker
   round trip on a 4-vCPU host. The wrapper below re-reads an archive
   only when its ``(st_ino, st_mtime_ns, st_size)`` differs from the
   last read, so an archive that did change (a new ``addPyFile``) is
   still re-read by the original method, and imports resolve as before.
2. transformWithState. When ``protobuf_compat.enable_tws`` has marked
   the worker environment, replay its protobuf shim before the worker
   unpickles a stateful processor.

Must never raise: a failure here would break every worker for every
query, hence the blanket guards.
"""

import os
import zipimport

#: ``protobuf_compat.TWS_MARKER``, spelled out so that a worker without
#: the marker imports nothing from the engine.
_TWS_MARKER = "ETL_JOBS_SPARK_TWS_SHIM"

#: Archive path -> stat key taken just before its directory was last read.
_read_keys: dict = {}


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _install_zip_wrapper():
    cls = zipimport.zipimporter
    read_directory = zipimport._read_directory
    invalidate = cls.invalidate_caches
    cache = zipimport._zip_directory_cache

    # Keying the imports' own first reads too spares a fresh interpreter
    # (each planner call) one full re-read per archive: ~35 ms for the
    # spark-core jar and pyspark.zip on a 4-vCPU host.
    def _read_directory(archive):
        # Stat before reading: a change during the read re-reads next time.
        key = _stat_key(archive)
        files = read_directory(archive)
        _read_keys[archive] = key
        return files

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and _read_keys.get(self.archive) == key and self.archive in cache:
            # Unchanged since the last read; another importer on the same
            # archive may have done that read, so take its directory.
            self._files = cache[self.archive]
            return
        invalidate(self)

    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches


def _replay_tws_shim():
    import sys

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if root not in sys.path:
        sys.path.append(root)
    from etl_jobs_spark.protobuf_compat import ensure_protobuf

    ensure_protobuf()


try:
    _install_zip_wrapper()
except Exception:  # pragma: no cover - defensive by design
    pass

if os.environ.get(_TWS_MARKER):
    try:
        _replay_tws_shim()
    except Exception:  # pragma: no cover - defensive by design
        pass
