"""Python workers do not re-read unchanged zip archives per task.

Before each task a PySpark worker calls ``importlib.invalidate_caches()``;
on CPython < 3.12 that re-reads the central directory of every zip on the
worker's path (pyspark.zip, py4j, the spark-core jar). Importing this
package inside a task makes later invalidations skip unchanged archives
(``otel_worker_spark.worker_imports``); the driver keeps stock zipimport.
"""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from otel_worker_spark import worker_imports


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_task_invalidation_rereads_no_archive(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        import otel_worker_spark  # noqa: F401  (what a kernel's unpickle does)

        zips = sorted(
            {f.archive for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter)}
        )
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield tuple(sys.version_info[:2]), zips, reads

    results = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    version, zips, _ = results[0]
    if version >= (3, 12):
        pytest.skip("CPython >= 3.12 invalidates zip importers lazily")
    if not zips:
        pytest.skip("the workers import nothing from a zip")
    assert [reads for _, _, reads in results] == [[]] * 4


def test_zip_added_after_workers_are_warm_is_importable(spark, tmp_root):
    sc = spark.sparkContext

    def warm(_):
        import otel_worker_spark  # noqa: F401

        yield 1

    assert sc.parallelize(range(8), 8).mapPartitions(warm).sum() == 8
    name = "late_" + uuid.uuid4().hex[:12]
    path = os.path.join(tmp_root, name + ".zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    sc.addPyFile(path)

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).mapPartitions(load).collect() == [42] * 8


def test_driver_zipimport_is_unchanged(spark, tmp_root):
    import otel_worker_spark  # noqa: F401

    assert worker_imports.install() is False
    assert zipimport.zipimporter.invalidate_caches is not worker_imports._invalidate_if_changed
    path = os.path.join(tmp_root, "drv.zip")
    _write_zip(path, {"drv_a": ""})
    importer = zipimport.zipimporter(path)
    assert importer.find_spec("drv_b") is None
    _write_zip(path, {"drv_a": "", "drv_b": ""})
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
    try:
        importer.invalidate_caches()
        assert importer.find_spec("drv_b") is not None
    finally:
        zipimport._read_directory = real
    assert reads == [path]


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="stock zipimport is lazy there")
def test_rewritten_archive_is_reread(tmp_root, monkeypatch):
    """The worker-side check itself: an unchanged archive is not read
    again, a rewritten one is."""
    path = os.path.join(tmp_root, "rw.zip")
    _write_zip(path, {"rw_a": ""})
    importer = zipimport.zipimporter(path)
    importer._read_stat = worker_imports._stat(path)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or real(archive)
    )
    worker_imports._invalidate_if_changed(importer)
    assert reads == []
    _write_zip(path, {"rw_a": "", "rw_b": "X = 1\n"})
    worker_imports._invalidate_if_changed(importer)
    assert reads == [path]
    assert importer.find_spec("rw_b") is not None
