"""Per-task import-cache guard for the engine's PySpark workers.

Before every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every cached
``zipimporter`` re-parse its whole archive: ``pyspark.zip`` once per package
prefix and the spark-core jar on the worker ``PYTHONPATH``, about 230 ms per
task before a UDF sees its first Arrow batch. CPython 3.13 made the call lazy.

The guard keeps each archive's ``(st_ino, st_size, st_mtime_ns)`` and skips
the re-read while that signature is unchanged and the directory is still in
``zipimport._zip_directory_cache``. A changed, replaced or deleted archive
(an ``addPyFile`` zip, a ``spark.files.overwrite``) falls through to the
standard method, so imports behave exactly as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

_signatures: dict[str, tuple[int, int, int] | None] = {}
_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    # stat before any read: an archive rewritten mid-read keeps the old
    # signature and is read again on the next call
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _signatures.get(self.archive) == sig:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    _signatures[self.archive] = sig


def install() -> bool:
    """Install the guard in a PySpark worker on CPython < 3.13; elsewhere do
    nothing. Idempotent. Returns whether the guard is installed."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    if "pyspark.worker" not in sys.modules and "pyspark.worker_util" not in sys.modules:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
