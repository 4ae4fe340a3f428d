"""spark-graft: a PySpark-native warehouse-migration / analytics engine.

Re-expresses the capabilities of ``justinarndt/data-warehouse-migration``
(an ADF + T-SQL medallion warehouse — see SURVEY.md) as idiomatic Spark
DataFrame/SQL constructs, plus LLM-data-pipeline operators (dedup,
similarity search, text analysis, event sessionization) designed for
100 TB scale.

Layout:
- ``session``      SparkSession factory (UTC, AQE, tuned shuffle)
- ``functions``    expression libraries (JDE codecs, calendar, text, vectors)
- ``operators``    composite DataFrame operators (SCD2, PIT join, dedup, ...)
- ``sources``      metadata-driven medallion ingestion (readers/writers)
- ``plans``        orchestration (stage sequencing, retry)
- ``streaming``    Structured Streaming variants of the event operators
"""

import sys

if sys.version_info < (3, 12):
    # Backport of CPython 3.12's lazy ``zipimporter.invalidate_caches``.
    # Spark's Python worker calls ``importlib.invalidate_caches()`` at
    # the start of every task; before 3.12 that makes each zipimporter
    # on sys.path (about 16 of them over pyspark.zip and py4j's zip)
    # re-read its archive's whole directory at once — about 0.2 CPU-s
    # per task. Here it only drops the archive's cached directory, and
    # the next lookup in that archive re-reads it once. Every UDF of
    # this package is unpickled by importing it, so every task after a
    # worker's first gets the backport.
    import zipimport

    def _zip_files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # ``__init__`` assigns ``_files`` after filling the shared cache;
    # the setter ignores it so every read goes through that cache.
    zipimport.zipimporter._files = property(_zip_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

from data_warehouse_migration_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
