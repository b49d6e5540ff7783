"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference batch image-tagging tool
(NaughtDZ/Cl_tagger_batch_processing, surveyed in /root/repo/SURVEY.md).

Design stance (SURVEY.md §7): this is a library of DataFrame operators plus a
pipeline composer. Catalyst is the optimizer, Tungsten the runtime. The only
Python-boundary code is the ML kernel (image decode / preprocess / score),
expressed as Arrow-batched pandas UDFs. Everything else — filters, broadcast
dimension lookups, per-category top-1, ordered string aggregation, dedup,
similarity search, text analysis — compiles to built-in Column expressions
and stays JVM-side.

Importing the package inside a PySpark Python worker installs
``install_zip_guard``. Every function the package hands to Spark's Python
runner reaches a package name, so unpickling it imports this module.
"""

import sys

__version__ = "0.1.0"


def install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from the key recorded at that importer's last read; when the
    stat fails, it re-reads as before. Idempotent.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Up to CPython 3.12
    that makes each cached ``zipimporter`` re-read its whole archive
    directory at once: a warm worker holds a dozen importers over
    ``pyspark.zip`` and two over the ``spark-core`` jar, 0.1-0.25 CPU-s
    per task. CPython 3.13's ``invalidate_caches`` only drops the cache
    entry, so there this returns at once. A new pyFile is a new path
    entry, and a rewritten or replaced archive changes its key, so both
    are still seen. An importer with no recorded key re-reads: a
    worker's first task runs before the package is imported, its second
    records each importer's key, and later tasks re-read nothing."""
    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_stat_key", None):
            reread(self)
        self._stat_key = key

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# The worker sets this flag before it unpickles a task's function; the
# driver never imports ``pyspark.core.files`` with the flag set.
_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    install_zip_guard()
del _files
