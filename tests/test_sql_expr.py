"""expr.sql.sql_expr: SQL templates as Columns. Identifiers are
backtick-quoted, numbers become typed literals, and any other value is
refused; plus the Py4J round-trip counter the QC tests measure with."""

import math
from decimal import Decimal

import pytest
from conftest import py4j_round_trips
from py4j.clientserver import ClientServer, ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType

from hail_spark.expr.sql import sql_expr


@pytest.mark.parametrize(
    "value", [None, True, False, b"GT", Decimal("1.5"), 1 + 2j, [1], (1,), {"a": 1}, object()],
    ids=lambda v: type(v).__name__,
)
def test_non_number_values_raise_type_error(value):
    with pytest.raises(TypeError, match="identifiers .str. and numbers"):
        sql_expr("{x} + 1", x=value)


@pytest.mark.parametrize("name", ["G`T", "G T", "`", "a.b", "x) OR (1 = 1"])
def test_identifiers_are_quoted(spark, name):
    """Any name, backticks and SQL text included, refers to the one
    column of that name."""
    df = spark.createDataFrame([(1, 10)], ["k", "v"]).withColumnRenamed("v", name)
    row = df.select(sql_expr("{col} + 1 AS {out}", col=name, out=name)).first()
    assert row.asDict() == {name: 11}
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        df.select(sql_expr("{col}", col=name + "x")).collect()


def test_number_literals(spark):
    df = spark.range(1).select(
        sql_expr("{a} AS a", a=7), sql_expr("{b} AS b", b=-3), sql_expr("{c} AS c", c=3_000_000_000),
        sql_expr("{d} AS d", d=0.1), sql_expr("{e} AS e", e=-2.5e-300), sql_expr("1 - {f} AS f", f=-1),
        *[sql_expr(f"{{x}} AS x{i}", x=x) for i, x in enumerate((math.inf, -math.inf, math.nan))],
    )
    assert [f.dataType for f in df.schema.fields] == (
        [IntegerType(), IntegerType(), LongType()] + [DoubleType()] * 2 + [IntegerType()] + [DoubleType()] * 3
    )
    row = df.first()
    assert row[:6] == (7, -3, 3_000_000_000, 0.1, -2.5e-300, 2)
    assert row.x0 == math.inf and row.x1 == -math.inf and math.isnan(row.x2)


def test_round_trip_counter_hook_exists(spark):
    """py4j_round_trips wraps ClientServerConnection.send_command, a
    private Py4J method: PySpark must still talk to the JVM through a
    ClientServer, and the counter must see the calls."""
    assert isinstance(spark.sparkContext._gateway, ClientServer)
    assert callable(ClientServerConnection.send_command)
    with py4j_round_trips() as trips:
        spark.range(3).select(F.col("id") + 1)
    assert trips.count > 0
    with py4j_round_trips() as idle:
        pass
    assert idle.count == 0
