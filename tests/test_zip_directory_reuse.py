"""``ocr_spark``'s zip-directory reuse (the CPython 3.13 ``zipimporter``
invalidation backport in ``ocr_spark/__init__.py``).

PySpark's worker runs ``importlib.invalidate_caches()`` before every Python
task.  Before 3.13 that re-parsed each zip archive's directory once per
importer on it; with ``ocr_spark`` imported, an unchanged archive is not
read again, and a changed one still is.
"""

from __future__ import annotations

import contextlib
import importlib
import sys
import zipfile
import zipimport
from collections import defaultdict

import pytest

import ocr_spark  # noqa: F401  (installs the backport)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip directories lazily by itself")


@contextlib.contextmanager
def _counted_reads():
    """Record every archive path ``zipimport`` reads a directory of."""
    original = zipimport._read_directory
    reads: list[str] = []

    def counting(archive):
        reads.append(archive)
        return original(archive)

    zipimport._read_directory = counting
    try:
        yield reads
    finally:
        zipimport._read_directory = original


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path):
    archive = str(tmp_path / "zpkg.zip")
    members = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "",
               "zpkg/sub/a.py": "X = 1\n"}
    _write_zip(archive, members)
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    saved_importers = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zpkg.sub.a").X == 1
        importers = [imp for imp in sys.path_importer_cache.values()
                     if isinstance(imp, zipimport.zipimporter)
                     and imp.archive == archive]
        assert len(importers) >= 2  # the archive root and zpkg/, zpkg/sub/
        importlib.invalidate_caches()  # the archive's first pass reads it
        with _counted_reads() as reads:
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {**members, "zpkg/sub/b.py": "Y = 2\n"})
        with _counted_reads() as reads:
            importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zpkg.sub.b").Y == 2
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_tasks_reuse_unchanged_zip_directories(spark):
    """Every Python task after a worker's first reads no archive directory
    in ``importlib.invalidate_caches()`` (16 reads per task without it:
    pyspark.zip, the spark-core jar and the py4j zip)."""

    def probe(index, rows):
        import importlib
        import os
        import zipimport

        import ocr_spark  # noqa: F401

        original = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: reads.append(a) or original(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield os.getpid(), index, len(reads)

    tasks = defaultdict(list)
    for pid, index, reads in (spark.sparkContext.parallelize(range(8), 8)
                              .mapPartitionsWithIndex(probe).collect()):
        tasks[pid].append((index, reads))
    # a worker runs its tasks one at a time, in launch (= index) order
    later = [reads for runs in tasks.values() for _, reads in sorted(runs)[1:]]
    assert later, dict(tasks)  # some worker ran more than one task
    assert later == [0] * len(later), dict(tasks)
