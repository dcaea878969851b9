"""Worker-side environment fix: mtime-guarded zipimport cache invalidation.

Python 3.11's ``zipimport.zipimporter.invalidate_caches()`` unconditionally
re-reads and re-parses the archive's whole central directory.
``pyspark.worker.main`` calls ``importlib.invalidate_caches()`` (via
``worker_util.setup_spark_files``) on EVERY task, and the Spark-shipped
worker ``sys.path`` carries ``pyspark.zip`` (~3.5 MB, ~900 entries) plus the
py4j zip — so every Python-stage task pays ~140-220 ms of pure
zip-directory parsing before the UDF sees its first batch (measured on this
host with a probe inside ``setup_spark_files``: ``invalidate_caches`` 128-217
ms/task, everything else < 1 ms; a trivial 1-row pandas_udf job ran 0.21 s
vs 0.075 s for the same job JVM-only).

CPython 3.12 fixed exactly this (gh-87497: ``zipimport`` now keeps the
archive's ``(mtime, size)`` and skips the re-read when unchanged). This
module backports that guard as a monkeypatch for 3.11 workers: the re-read
still happens whenever the archive's mtime or size changes (the semantics
``invalidate_caches`` exists for — e.g. a replaced ``--py-files`` zip), it
is merely skipped when the archive is provably unchanged. ``st_mtime_ns``
narrows the stale window to filesystem timestamp granularity.

Application scope: the patch is process-global, so it is NOT applied by
merely importing this module on the driver. It applies itself only inside
processes that PySpark forks to run Python for the JVM (see
``_in_pyspark_worker_process``). The package ``__init__`` imports this
module, so every worker that unpickles anything from ``oxbow_spark`` — an
Arrow kernel in a UDF worker, a ``sources.*`` DataSource or writer in a
planner or commit worker — patches itself before its next task. Those
planner/commit workers (``pyspark.sql.worker.create_data_source``,
``plan_data_source_read``, ``data_source_pushdown_filters``,
``write_into_data_source``, ``commit_data_source_write``) are forked by the
stock ``pyspark.daemon`` whatever ``spark.python.daemon.module`` says, and
each call pays the same ``setup_spark_files`` re-parse: ~200 ms in
``load()`` and again when the action plans its read. Workers are reused,
so only a worker's first call still pays. ``oxbow_spark.worker_daemon``
additionally applies the patch at UDF-daemon boot so every forked UDF
worker inherits it. Idempotent; no-op on >= 3.12.

This module must stay import-light (stdlib only): the worker daemon loads
it by file path before anything else, including on interpreters where the
scientific stack is absent.
"""

from __future__ import annotations

import os
import sys
import zipimport

_PATCHED = False


def patch_zipimport_invalidate_caches() -> None:
    global _PATCHED
    if _PATCHED:
        return
    _PATCHED = True
    if sys.version_info >= (3, 12):
        # stdlib already guards the re-read with an mtime/size check
        return

    orig = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):  # type: ignore[no-redef]
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_oxbow_zip_stat", None) == key:
            return None
        out = orig(self)  # only mark validated if the re-read succeeded
        self._oxbow_zip_stat = key
        return out

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _in_pyspark_worker_process() -> bool:
    """True in the Python processes PySpark forks, False on the driver.

    UDF workers import ``pyspark.worker``. Planner and commit workers run
    a ``pyspark.sql.worker.*`` module under a daemon that is ``__main__``,
    and import neither ``pyspark.worker`` nor ``pyspark.daemon``; like
    every worker entry point they import ``pyspark.worker_util``. By the
    time user code (a kernel or DataSource unpickle) runs, the worker has
    imported its entry module. The driver's SQL/py4j path imports none of
    these.
    """
    mods = sys.modules
    return ("pyspark.worker" in mods or "pyspark.daemon" in mods
            or "pyspark.worker_util" in mods
            or any(m.startswith("pyspark.sql.worker.") for m in mods))


if _in_pyspark_worker_process():
    patch_zipimport_invalidate_caches()
