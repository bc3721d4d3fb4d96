"""MatrixTable column frames: ``cols()``, the column side of
``entries()`` and of the column joins, and the ``__cols`` array that
``annotate_entries_with_cols`` zips with the entries all come from one
Arrow-backed local frame, typed as ``cols()`` types the fields."""

from conftest import py4j_round_trips, spark_jobs
from pyspark.sql import Row
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hail_spark.matrixtable import COLS, ENTRIES, MatrixTable


def _matrix(spark, cols, n_rows=3):
    """Entry ``v`` = 10 × row index + column index."""
    df = spark.createDataFrame(
        [(i, [Row(v=10 * i + j) for j in range(len(cols))]) for i in range(n_rows)],
        f"row_idx int, {ENTRIES} array<struct<v:int>>",
    )
    return MatrixTable(df, ("row_idx",), cols, ("s",))


def _entry_values(mt, field):
    return [[e[field] for e in r[ENTRIES]] for r in mt._df.orderBy("row_idx").collect()]


def test_cols_collect_without_a_job(spark):
    mt = _matrix(spark, [{"s": f"s{j}", "age": 30 + j} for j in range(5)])
    assert spark_jobs(spark, lambda: mt.cols().df.collect()) == 0
    assert mt.cols().df.collect() == [Row(age=30 + j, s=f"s{j}") for j in range(5)]


def test_cols_array_has_the_cols_schema(spark):
    """The ``__cols`` elements are typed as ``cols()`` infers the
    fields: a Python int is a nullable bigint, not an ``int NOT NULL``
    literal."""
    mt = _matrix(spark, [{"s": f"s{j}", "age": 30 + j} for j in range(4)])
    element = mt._attach_cols(mt._df).schema[COLS].dataType.elementType
    assert element == mt.cols().df.schema == StructType(
        [StructField("age", LongType()), StructField("s", StringType())]
    )


def test_annotate_entries_with_cols_reads_fields_by_name(spark):
    """Column dicts that list their keys in different orders."""
    mt = _matrix(spark, [{"col_idx": 0, "s": "a", "x": 1}, {"x": 2, "s": "b", "col_idx": 1}])
    out = mt.annotate_entries_with_cols(lambda e, c: {"y": e["v"] + 100 * c["x"]})
    assert _entry_values(out, "y") == [[100, 201], [110, 211], [120, 221]]
    assert out.cols().df.collect() == [Row(col_idx=0, s="a", x=1), Row(col_idx=1, s="b", x=2)]


def test_annotate_entries_with_cols_round_trips(spark):
    """Building the ``__cols`` array costs a fixed number of Py4J round
    trips, not one per column and field (7,012 for this shape when each
    value was its own literal)."""
    cols = [{"s": f"s{j}", "age": j, "pheno": 0.5 * j, "batch": f"b{j % 3}"} for j in range(100)]
    mt = _matrix(spark, cols, n_rows=2)
    with py4j_round_trips() as trips:
        mt.annotate_entries_with_cols(lambda e, c: {"y": e["v"] + c["age"]})
    assert trips.count < 200, trips.count
