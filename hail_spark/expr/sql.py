"""SQL templates as Columns.

A per-row expression written with the Column API costs one Py4J round
trip per Column call, so a fixed method expression of a few hundred
nodes spends more time crossing into the JVM than Spark spends
analysing it. Hail's Python layer ships its whole expression tree to
the JVM as one string instead (SURVEY.md, ``backend.py:222-241``);
``sql_expr`` does the same for a Spark SQL template: the template is
formatted in Python and parsed into one Column by one ``F.expr`` call.

Templates are string constants in code. Only two kinds of argument are
formatted into them: a ``str`` is an identifier (a column, struct field
or lambda variable name) and is backtick-quoted, with any backtick in
it doubled; an ``int`` or ``float`` is a number literal. Anything else
raises ``TypeError``, so no string value ever becomes SQL text; string
constants such as ``'GT'`` belong in the template itself.
"""

from __future__ import annotations

import math
from numbers import Integral, Real

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_arg(v) -> str:
    if isinstance(v, str):
        return "`" + v.replace("`", "``") + "`"
    if isinstance(v, bool) or not isinstance(v, Real):
        raise TypeError(f"sql_expr formats identifiers (str) and numbers, not {type(v).__name__}")
    if isinstance(v, Integral):
        text = str(int(v))
    elif math.isfinite(v):
        # the D suffix makes a DOUBLE literal; a bare 0.5 would be DECIMAL
        text = repr(float(v)) + "D"
    else:
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    return f"({text})" if text.startswith("-") else text


def sql_expr(template: str, **args) -> Column:
    """The Column of ``template`` with each ``{name}`` replaced by
    ``args[name]``: a quoted identifier for a ``str``, a literal for an
    ``int`` or ``float``."""
    return F.expr(template.format(**{k: _sql_arg(v) for k, v in args.items()}))
