"""The package's backport of CPython 3.12's lazy
``zipimporter.invalidate_caches`` (data_warehouse_migration_spark/
__init__.py): Spark's Python worker invalidates import caches at the
start of every task, which before 3.12 re-read every zip archive's
directory on sys.path."""

from __future__ import annotations

import subprocess
import sys

import pandas as pd

# pyspark submodules no engine path imports; the probe imports the
# first one its worker has not loaded yet.
_UNLOADED = (
    "pyspark.ml.fpm",
    "pyspark.mllib.fpm",
    "pyspark.ml.tuning",
    "pyspark.mllib.tree",
    "pyspark.ml.evaluation",
)


def test_invalidate_caches_reads_no_zip_directory_in_a_task(spark):
    # Nested, so cloudpickle ships it by value: workers cannot import
    # the test module.
    def _probe(batches):
        import importlib
        import sys
        import zipimport

        # What unpickling any UDF of the package does first.
        import data_warehouse_migration_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            on_invalidate = len(reads)
            name = next(m for m in _UNLOADED if m not in sys.modules)
            module = importlib.import_module(name)
            archives = set(reads)
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values())
        )
        yield pd.DataFrame(
            {
                "invalidate_reads": [on_invalidate],
                "module_file": [module.__file__],
                "reads": [len(reads)],
                "archives": [len(archives)],
                "zip_importers": [zips],
            }
        )

    out = (
        spark.range(1)
        .mapInPandas(
            _probe,
            "invalidate_reads int, module_file string, reads int, archives int,"
            " zip_importers int",
        )
        .collect()[0]
    )
    # The worker imports pyspark from its zip, so there is something to
    # re-read; the invalidation itself reads nothing ...
    assert out.zip_importers > 0
    assert out.invalidate_reads == 0
    # ... and a module not loaded before still imports from the zip,
    # re-reading each archive it looks in once.
    assert ".zip" in out.module_file
    assert out.reads == out.archives


def _installed_in_fresh_interpreter(version: tuple | None) -> bool:
    fake = ""
    if version is not None:
        fake = (
            "import collections\n"
            "V = collections.namedtuple('V', 'major minor micro releaselevel serial')\n"
            f"sys.version_info = V(*{version!r})\n"
        )
    code = (
        "import sys\n"
        + fake
        + "import zipimport\n"
        "import data_warehouse_migration_spark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=__file__.rsplit("/tests/", 1)[0],
    ).stdout.strip()
    return out == "data_warehouse_migration_spark"


def test_backport_installed_only_before_312():
    assert _installed_in_fresh_interpreter(None) == (sys.version_info < (3, 12))
    assert not _installed_in_fresh_interpreter((3, 12, 0, "final", 0))
    assert _installed_in_fresh_interpreter((3, 11, 7, "final", 0))
