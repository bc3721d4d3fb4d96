"""Data-layout clustering — multi-dimensional (Z-order) sort keys.

The 100-TB problem this solves: parquet row-group pruning works on
min/max stats, and a table sorted by ONE column has perfect stats for
that column and useless stats for every other. Interleaving the bits
of several columns (Morton / Z-order — the same layout Delta's
OPTIMIZE ZORDER BY and Iceberg's sort orders use) gives every listed
column locality ~2^(bits/m), so selective filters on ANY of them prune
files. The op itself is cheap: one min/max agg to grid the columns,
a map-only bit-interleave projection, and a repartitionByRange on the
z value before write.

Everything is plain Column arithmetic (the HOF fold is per-row over
``bits`` elements, no UDF), so a SQL oracle replays z values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_interleave(cols: list[Column], bits: int = 16) -> Column:
    """Morton-interleave pre-gridded NON-NEGATIVE ints (< 2^bits):
    bit j of column c lands at position j*m + c. bits*m must stay
    ≤ 60 so the result never touches the sign bit."""
    m = len(cols)
    if not m:
        raise ValueError("zorder_interleave: need at least one column")
    if bits * m > 60:
        raise ValueError(f"zorder_interleave: bits*m = {bits * m} > 60")

    def _bit(x: Column, j: Column, pos: Column) -> Column:
        # (x >> j) & 1, shifted to pos — wrappers need int shifts, the
        # SQL functions take columns
        return F.call_function(
            "shiftleft",
            F.call_function("shiftright", x, j.cast("int")).bitwiseAND(
                F.lit(1).cast("long")
            ),
            pos.cast("int"),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + sum(
            (_bit(c.cast("long"), j, j * m + i) for i, c in enumerate(cols)),
            start=F.lit(0).cast("long"),
        ),
    )


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "__z",
    n_partitions: int | None = None,
) -> DataFrame:
    """Add a Z-order key over ``cols`` (numeric; scaled to a 2^bits
    grid from one global min/max agg, broadcast back as one row) and,
    when ``n_partitions`` is given, repartitionByRange on it — the
    write-side clustering step. Constant columns grid to 0."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    ).withColumn("__k", F.lit(1))
    g = df.withColumn("__k", F.lit(1)).join(F.broadcast(stats), "__k").drop("__k")
    grid = F.lit((1 << bits) - 1).cast("long")
    gridded = []
    for c in cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        span = hi - lo
        scaled = F.when(
            span > 0,
            F.least(
                grid,
                F.floor(
                    (F.col(c).cast("double") - lo) / span * F.lit(float(1 << bits))
                ).cast("long"),
            ),
        ).otherwise(F.lit(0).cast("long"))
        gridded.append(scaled)
    out = g.withColumn(out_col, zorder_interleave(gridded, bits=bits)).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )
    if n_partitions is not None:
        out = out.repartitionByRange(n_partitions, F.col(out_col))
    return out
