"""Per-sample result frames built on the driver.

Methods that reduce a matrix to one row per column (sample) finish on
the driver with numpy. ``local_frame`` hands that result back as a
DataFrame over an Arrow-backed ``LocalRelation``: collecting it starts
no Spark job, where ``spark.createDataFrame([dict, ...])`` builds a
Python RDD whose every action runs a job in Python workers.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list[dict], before: pa.Table | None = None) -> DataFrame:
    """DataFrame of ``before``'s columns followed by the fields of
    ``rows``, one row per element of ``rows``, in order.

    The ``rows`` fields are named, ordered and typed exactly as
    ``spark.createDataFrame(rows)`` infers them (sorted field names,
    merged Python-value types, all nullable); ``before`` keeps its
    Arrow types and nullability."""
    # createDataFrame's own inference, without building its Python RDD;
    # tests/test_local_frame.py pins the two to the same schema.
    inferred = spark._inferSchemaFromList(rows)
    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(inferred))
    schema = inferred
    if before is not None:
        schema = StructType(from_arrow_schema(before.schema).fields + inferred.fields)
        tbl = pa.Table.from_arrays(before.columns + tbl.columns, names=schema.names)
    return spark.createDataFrame(tbl, schema)
