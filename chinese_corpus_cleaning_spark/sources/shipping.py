"""Ship this package to executor Python workers.

The local-mode equivalent of ``spark-submit --py-files dist/engine.zip``:
pandas-UDF closures reference this package by module path, so worker
processes must be able to import it regardless of the driver's cwd. The zip
is rebuilt whenever any source file's mtime changes.

It also owns one piece of Python-worker set-up: :func:`lazy_zip_invalidation`,
a backport of CPython 3.13's lazy ``zipimporter.invalidate_caches`` that the
package ``__init__`` installs once per Spark Python worker process. Delete
it when the workers run CPython >= 3.13.
"""

from __future__ import annotations

import os
import sys
import zipfile

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PARENT = os.path.dirname(_PKG_DIR)


def ensure_pyfiles(spark) -> str:
    sources = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_PKG_DIR)
        for f in files
        if f.endswith(".py")
    ]
    # digest of the full (relpath, mtime_ns, size) SET: max(int(mtime))
    # missed sub-second edits (stale code shipped to executors in an
    # edit-run loop) and file deletions entirely (review finding)
    import hashlib

    h = hashlib.md5()
    for f in sorted(sources):
        st = os.stat(f)
        h.update(
            f"{os.path.relpath(f, _PKG_DIR)}|{st.st_mtime_ns}|{st.st_size};".encode()
        )
    stamp = h.hexdigest()[:16]
    zip_path = os.path.join("/tmp", f"chinese_corpus_cleaning_spark_{stamp}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, _PARENT))
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` drop an archive's cached
    directory instead of re-reading it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task (pyspark/worker_util.py ``setup_spark_files``). On CPython
    3.11 each zipimporter then re-reads its whole archive at once
    (Lib/zipimport.py:329-336): pyspark.zip, 1,328 entries, once per
    imported pyspark sub-package, and the spark-core jar, 5,359 entries,
    twice: 0.12-0.25 s of every task. CPython 3.13 only pops
    ``_zip_directory_cache[archive]`` and re-reads it on the next lookup
    (Lib/zipimport.py:263-278). This installs that behaviour: ``_files``
    reads through the shared cache, and ``invalidate_caches`` pops it.

    Does nothing on CPython >= 3.13, when a private name it needs is
    missing, or when it is already installed.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    cls = getattr(zipimport, "zipimporter", None)
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if (
        cls is None
        or not isinstance(cache, dict)
        or not hasattr(zipimport, "_read_directory")
        or isinstance(cls.__dict__.get("_files"), property)
    ):
        return

    def _get_files(self):
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(
                    self.archive
                )
            except zipimport.ZipImportError:
                files = {}
            return files

    def _set_files(self, files):
        # zipimporter.__init__ assigns _files before archive, right after
        # putting the same dict into the cache
        archive = self.__dict__.get("archive")
        if archive is not None:
            cache[archive] = files

    def invalidate_caches(self):
        cache.pop(self.archive, None)

    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = invalidate_caches
