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

__version__ = "0.1.0"
