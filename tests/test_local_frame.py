"""local_frame: per-sample results as a local DataFrame."""

import datetime

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from hail_spark.methods.local import local_frame


def test_local_frame_keeps_dict_inference(spark):
    """local_frame types its rows as createDataFrame(list_of_dicts) does:
    sorted names, NULLs merged into the other rows' type, dicts as maps,
    Rows as structs, nested containers typed from every row."""
    rows = [
        {"s": f"s{j}", "pheno": None if j == 1 else 0.5 * j, "batch": j % 2,
         "tags": {"a": j}, "xs": [1.0, 0.5 * j], "day": datetime.date(2020, 1, 1 + j),
         "info": Row(age=None if j == 2 else 30 + j, site="u"),
         "calls": [{"GT": j}] if j else [], "w": {"k": None if j == 3 else 0.25 * j}}
        for j in range(4)
    ]
    got = local_frame(spark, rows)
    want = spark.createDataFrame(rows)
    assert got.schema == want.schema == StructType([
        StructField("batch", LongType()),
        StructField("calls", ArrayType(MapType(StringType(), LongType()))),
        StructField("day", DateType()),
        StructField("info", StructType([
            StructField("age", LongType()),
            StructField("site", StringType()),
        ])),
        StructField("pheno", DoubleType()),
        StructField("s", StringType()),
        StructField("tags", MapType(StringType(), LongType())),
        StructField("w", MapType(StringType(), DoubleType())),
        StructField("xs", ArrayType(DoubleType())),
    ])
    assert got.collect() == want.collect()


@pytest.mark.parametrize("rows", [
    [{"x": 1}, {"x": 0.5}],
    [{"x": [0.5]}, {"x": [1, 2]}],
])
def test_local_frame_rejects_what_dict_inference_rejects(spark, rows):
    """An int in one row and a float in another does not merge, in
    createDataFrame's inference or in local_frame's."""
    with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE"):
        spark.createDataFrame(rows)
    with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE"):
        local_frame(spark, rows)
