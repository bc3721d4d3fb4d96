"""Driver-side rows as local DataFrames.

Methods that reduce a matrix to one row per column (sample) finish on
the driver with numpy, and a MatrixTable keeps its columns on the
driver as a list of dicts. ``local_frame`` turns such rows into a
DataFrame over an Arrow-backed ``LocalRelation``: collecting it starts
no Spark job, where ``spark.createDataFrame([dict, ...])`` builds a
Python RDD whose every action runs a job in Python workers. Every
DataFrame of a MatrixTable's columns, per-sample results included, is
built by ``MatrixTable._cols_frame`` through ``local_frame``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import ArrayType, StructField, StructType


def local_frame(
    spark: SparkSession, rows: list[dict], before: pa.Table | None = None, nest: str | None = None
) -> DataFrame:
    """DataFrame of ``before``'s columns followed by the fields of
    ``rows``, one row per element of ``rows``, in order. With ``nest``,
    the DataFrame is instead one row whose column ``nest`` holds those
    rows, in order, as an array of structs.

    The ``rows`` fields are named, ordered and typed exactly as
    ``spark.createDataFrame(rows)`` infers them (sorted field names,
    merged Python-value types, all nullable), and each dict's values go
    to fields by name; ``before`` keeps its Arrow types and
    nullability."""
    # createDataFrame's own inference, without building its Python RDD;
    # tests/test_local_frame.py pins the two to the same schema.
    inferred = spark._inferSchemaFromList(rows)
    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(inferred))
    schema = inferred
    if before is not None:
        schema = StructType(from_arrow_schema(before.schema).fields + inferred.fields)
        tbl = pa.Table.from_arrays(before.columns + tbl.columns, names=schema.names)
    if nest is not None:
        elements = tbl.to_struct_array().combine_chunks()
        offsets = pa.array([0, len(elements)], pa.int32())
        tbl = pa.table({nest: pa.ListArray.from_arrays(offsets, elements)})
        schema = StructType([StructField(nest, ArrayType(schema))])
    return spark.createDataFrame(tbl, schema)
