"""etl_extractor_spark — a PySpark-native analytics/ETL engine.

A ground-up re-expression of the capabilities of the reference system
(nilfredb/ETL-Extractor, surveyed in SURVEY.md) as an idiomatic Spark
engine: declarative DataFrame/SQL plans optimized by Catalyst, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, event windowing) a 100 TB deployment needs.

Layout:
    session     SparkSession factory (AQE, Arrow, UTC)
    config      JSON settings loader / source registry config
    sources/    CSV / JDBC / JSON-API / parquet readers
    sinks/      overwrite / append / partitioned writers
    functions/  scalar Column helpers (text, dates, casts, text-stats)
    operators/  dims, facts, dedup, similarity, events, multimodal
    plans/      the query library exposed through __spark_entry__
    streaming/  Structured Streaming twins of the batch event ops
"""

import sys

__version__ = "0.1.0"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# pyspark's worker calls importlib.invalidate_caches() before every task
# (pyspark.worker_util.setup_spark_files). Before CPython 3.13 that makes
# each zipimporter on sys.path re-read its archive's central directory
# eagerly: a worker holds 14-18 of them over pyspark.zip's 1328 entries,
# about 0.1 s of CPU per task. Every Python worker that runs a repo UDF
# imports this package when it unpickles the UDF, so the wrapper below
# is installed once per worker process: it re-reads an archive only when
# its (mtime, size, inode) changed since its last read. 3.13 made the
# call lazy, so there it is left alone.
if sys.version_info < (3, 13):
    import os
    import threading
    import zipimport

    _zip_lock = threading.Lock()
    _zip_stamps: dict[str, tuple[int, int, int]] = {}
    _zip_reread = zipimport.zipimporter.invalidate_caches

    def _zip_invalidate_if_changed(self) -> None:
        """``zipimporter.invalidate_caches`` that skips unchanged archives."""
        with _zip_lock:
            try:
                st = os.stat(self.archive)
            except OSError:
                _zip_stamps.pop(self.archive, None)
                _zip_reread(self)
                return
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            if _zip_stamps.get(self.archive) == stamp:
                # another importer over the same archive may have re-read it
                self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
                return
            _zip_reread(self)
            _zip_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _zip_invalidate_if_changed
