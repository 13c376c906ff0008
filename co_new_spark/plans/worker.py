"""Python-worker start-up guard: skip re-reading unchanged zip archives.

Why it exists: at the start of every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On CPython < 3.12 ``zipimporter.invalidate_caches``
eagerly re-reads the archive's whole central directory, and a worker holds
one zipimporter per ``pyspark.zip`` package subpath plus the py4j zip (16 on
the reference host over 1,328 entries).  A reused worker therefore re-reads
the same unchanged directories on every task of every ArrowEvalPython node,
about 0.15-0.25 s of CPU per task.  CPython 3.12 made the invalidation lazy
(gh-103200), so the guard is only installed before that.

The guard re-reads an archive only when its ``os.stat`` (mtime_ns, size,
inode) differs from the one taken at the importer's last read, or when the
stat fails; a changed or missing archive takes the stdlib path unchanged.

It is installed when ``co_new_spark`` is imported inside a worker task
(every engine UDF pickles a reference to a ``co_new_spark`` module), not
through ``spark.python.daemon.module``: the daemon starts before
``--py-files`` reach ``sys.path``, so a custom daemon module shipped that way
would not import under ``spark-submit`` (``tools/job_flagship.py``).  Driver
and test processes have no task context and are left unpatched.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guard_zip_rereads() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` with the stat check; a no-op on
    Python >= 3.12 and when already wrapped.  Returns whether it is on."""
    if sys.version_info >= (3, 12):
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    if hasattr(stdlib, "__wrapped__"):
        return True

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        key = _stat_key(self.archive)       # taken before the read it guards
        if key is None or key != getattr(self, "_read_key", None):
            stdlib(self)
        self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def install_in_task() -> None:
    """Install the guard only inside a PySpark worker task."""
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is not None and tc.TaskContext.get() is not None:
        guard_zip_rereads()
