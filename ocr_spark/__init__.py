"""ocr_spark — a PySpark-native batch document-field extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the ``kimcollcerezo/ocr`` reference service (Spanish DNI/NIE, Permiso de
Circulación and NIF/TIF field extraction + validation), re-expressed as a
distributed DataFrame pipeline over Common-Crawl-style page tables
``(url, warc_ts, html, text, lang)``.

Layout:
  - :mod:`ocr_spark.textops`     scalar text/date normalization (SURVEY §2.5)
  - :mod:`ocr_spark.validators`  check-digit / format validators (SURVEY §2.6)
  - :mod:`ocr_spark.score`       confidence scoring (SURVEY §2.7 R1)
  - :mod:`ocr_spark.parsers`     Phase-1 extraction + Phase-2 validation
  - :mod:`ocr_spark.schema`      Spark StructTypes for the response contract
  - :mod:`ocr_spark.functions`   pandas UDFs + native Column expressions
  - :mod:`ocr_spark.html_extract` tier-1/tier-2 HTML → text extraction
  - :mod:`ocr_spark.job`         the batch pipeline (read → extract → write)
  - :mod:`ocr_spark.lineage`     observed run summary + resume
  - :mod:`ocr_spark.operators`   dedup / similarity / text-stats / multimodal
  - :mod:`ocr_spark.pagegen`     deterministic synthetic pages generator
"""

import os
import sys

__version__ = "0.1.0"


def _reuse_unchanged_zip_directories() -> None:
    """Backport CPython 3.13's cheap ``zipimporter.invalidate_caches``.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every Python task.  Before 3.13 each ``zipimporter`` then re-parses its
    archive's whole central directory: a reused worker holds 16 importers
    on ``pyspark.zip``, the spark-core jar and the py4j zip, ~27k entries
    and ~100 ms of CPU per task.  The replacement re-reads an archive only
    when its ``(st_mtime_ns, st_size)`` changed since this process last
    read it; otherwise the importer takes the shared cached directory.
    """
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "read_stamps"):
        return
    read_stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files
        else:
            original(self)
            read_stamps[self.archive] = stamp

    invalidate_caches.read_stamps = read_stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reuse_unchanged_zip_directories()
