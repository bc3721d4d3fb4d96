"""The core classes define every method, property, classmethod and
staticmethod inside their own class body: none is attached afterwards
as ``Class.name = function``."""

import inspect

import pytest

from hail_spark.linalg.blockmatrix import BlockMatrix
from hail_spark.matrixtable import GroupedMatrixCols, GroupedMatrixRows, MatrixTable
from hail_spark.table import GroupedTable, Table

CLASSES = [MatrixTable, GroupedMatrixRows, GroupedMatrixCols, Table, GroupedTable, BlockMatrix]


def _functions(attr):
    if isinstance(attr, property):
        return [f for f in (attr.fget, attr.fset, attr.fdel) if f is not None]
    if isinstance(attr, (classmethod, staticmethod)):
        return [attr.__func__]
    return [attr] if inspect.isfunction(attr) else []


@pytest.mark.parametrize("cls", CLASSES, ids=lambda c: c.__name__)
def test_every_method_is_defined_in_its_class(cls):
    outside = [
        f"{name} is {fn.__qualname__}"
        for name, attr in vars(cls).items()
        for fn in _functions(attr)
        if not fn.__qualname__.startswith(cls.__name__ + ".")
    ]
    assert outside == []
