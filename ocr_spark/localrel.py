"""Small driver-side DataFrames via the Arrow local-relation path.

``spark.createDataFrame(list_of_tuples, schema)`` parallelizes the rows
over ``defaultParallelism`` RDD partitions and pays one Python-worker task
per partition on EVERY action — measured ~5 s for an 8-row frame at
local[32] in this environment (32 worker spin-ups, or one task dragging 32
parent partitions after a coalesce).  Routing the same rows through a
pandas payload produces an Arrow-backed local relation: no Python tasks at
action time, ~25× faster for the tiny frames this repo builds driver-side
(IVF centroids and probe lists, planted test rows, run summaries).

At cluster scale the same rule holds: driver-local inputs should enter the
plan as a local relation (broadcastable, no job), not as a parallelized
RDD.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema=None) -> DataFrame:
    """Arrow-path ``createDataFrame`` for small driver-side row lists.

    ``rows`` is a list of tuples or of dicts; ``schema`` a DDL string ("a
    int, b array<double>"), a ``StructType`` or, for dicts only, None: the
    columns are then the keys in order and their types inferred.  Tuples
    follow the schema's column order, as with the plain-list form.  The
    frame runs in ONE task, however many the session's default
    parallelism.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames() if schema is not None else None
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema=schema)
