"""docling_api_spark — a PySpark-native analytics & document-ETL engine.

A from-scratch engine with the query and data-processing capabilities of
the reference document-conversion service (drmingler/docling-api), re-expressed
Spark-first:

- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC, ns-timestamp handling)
- ``tables``     — canonical loaders for the TPC-H-ish test tables
- ``operators``  — the declared query surface (relational, event-time, dedup,
                   similarity, text analysis) as composable DataFrame builders
- ``functions``  — column-level helpers (exact decimal aggs, vector math,
                   format sniffing, CSV encoding chain, markdown image splice)
- ``sources``    — binary-file document source + upload-validation filters
- ``pipeline``   — the document→markdown conversion pipeline (the reference's core)
- ``streaming``  — async job mode on Structured Streaming (job status semantics)
- ``plans``      — registry mapping query names → (Spark builder, DuckDB oracle SQL)

Everything is built on public Apache Spark APIs only.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


# Before every task a reused PySpark worker calls importlib.invalidate_caches()
# (pyspark/worker_util.py, setup_spark_files). On CPython 3.10-3.12 that makes
# every zipimporter on sys.path re-read its archive's whole central directory:
# a warm worker holds about 12 on pyspark.zip and 2 on the Spark core jar,
# some 200 ms per task. The replacement re-reads an archive only when its
# (mtime, size, inode) differs from the importer's last read, so a rewritten
# or replaced archive is still picked up. Workers install it when they
# unpickle any engine function, which imports this package; only a worker's
# first task then pays. CPython 3.13 only drops a cache entry here.
if sys.version_info < (3, 13):
    _stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches_if_changed(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_stat = None
            return _stdlib_invalidate_caches(self)
        # stat before reading: an archive rewritten during the read then
        # fails the comparison next time instead of hiding behind a new key
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_archive_stat", None) != key:
            _stdlib_invalidate_caches(self)
            self._archive_stat = key

    zipimport.zipimporter.invalidate_caches = _invalidate_caches_if_changed
