"""Driver-built frames: every row set the engine computes on the driver
re-enters Spark through :func:`local_frame`.

A Python-list ``spark.createDataFrame`` is a Python-RDD-backed
``LogicalRDD``: every scan of it starts Python-worker tasks (one Spark job
and ~0.3 s even for 25 rows). ``local_frame`` builds Arrow record batches
on the driver instead and hands them to the JVM, as PySpark's
``createDataFrame(pa.Table)`` does:

- below ``spark.sql.execution.arrow.localRelationThreshold`` (Spark's
  default, 48 MB) the frame is a ``LocalRelation``: collecting it runs no
  job, it carries exact size statistics for broadcast planning, and
  ``truncate_lineage`` skips it;
- above it the frame is a JVM-side Arrow RDD, so scans need no Python
  workers.
"""

from __future__ import annotations

from itertools import islice
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_schema

#: Rows per Arrow record batch: the driver transposes one batch of rows
#: into columns at a time, never the whole input.
_BATCH_ROWS = 10_000


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A frame over driver-side ``rows`` (tuples, positional in ``schema``).

    ``schema`` is a DDL string or a ``StructType``. Rows are transposed in
    batches of ``_BATCH_ROWS``, one partition per batch when the frame is
    an Arrow RDD. The batches go to the JVM as built: PySpark's
    ``createDataFrame(pa.Table)`` would re-chunk them by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` and raises when that
    is set to its documented "no limit" (zero or less).
    """
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(
        struct,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    it = iter(rows)
    batches = []
    while chunk := list(islice(it, _BATCH_ROWS)):
        cols = zip(*chunk, strict=True)
        batches.append(pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema, strict=True)],
            schema=arrow_schema,
        ))
    jvm = spark._jvm
    jiter = spark.sparkContext._serialize_to_jvm(
        batches, ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile, jvm.ArrowIteratorServer,
    )
    df = DataFrame(jvm.PythonSQLUtils.toDataFrame(jiter, struct.json(), spark._jsparkSession), spark)
    df._schema = struct
    return df
