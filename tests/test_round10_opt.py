"""Round-10 optimization guards.

1. rfm_segments partitioned_rank parity: the 2-phase exact global ntile
   must be bit-identical to the unpartitioned-window path (it is the
   scale path the gate-size bench never exercises — the CC driver-cutoff
   parity-test discipline).
2. _lc_pinned partitioning capture: the pinned checkpoint must record
   the plan's HashPartitioning so iterative-round joins skip both side
   exchanges (the whole point of the r10 graph rework; a Spark upgrade
   that silently reverts to UnknownPartitioning should fail HERE, not
   as a perf regression two rounds later).
"""

import pytest
from pyspark.sql import functions as F


def _rfm_input(spark, n=500):
    # ties in frequency/monetary so the entity tie-break matters
    return spark.range(n).select(
        (F.col("id") % 97).alias("cust"),
        (F.col("id") * 37 % 1000).alias("ts"),
        ((F.col("id") % 13) * 10).cast("double").alias("amt"),
    )


@pytest.mark.parametrize("n_bins", [4, 7])
def test_rfm_partitioned_rank_parity(spark, n_bins):
    from hail_spark.operators.relational import rfm_segments

    df = _rfm_input(spark)
    a = rfm_segments(df, "cust", "ts", "amt", n_bins=n_bins).orderBy("cust")
    b = rfm_segments(
        df, "cust", "ts", "amt", n_bins=n_bins, partitioned_rank=True
    ).orderBy("cust")
    assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]


def test_rfm_partitioned_rank_fewer_rows_than_bins(spark):
    from hail_spark.operators.relational import rfm_segments

    df = _rfm_input(spark).filter(F.col("cust") < 3)  # 3 entities, 4 bins
    a = rfm_segments(df, "cust", "ts", "amt", n_bins=4).orderBy("cust")
    b = rfm_segments(
        df, "cust", "ts", "amt", n_bins=4, partitioned_rank=True
    ).orderBy("cust")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_lc_pinned_captures_partitioning(spark):
    from hail_spark.operators.graph import _lc_pinned, _pin_n

    n = _pin_n(spark)
    e = spark.range(1000).select(
        (F.col("id") % 31).alias("dst"), (F.col("id") % 17).alias("src")
    )
    ck = _lc_pinned(e.repartition(n, "dst").distinct())
    part = str(ck._jdf.queryExecution().executedPlan().outputPartitioning())
    assert "hashpartitioning(dst" in part, part
    # AQE conf restored after the pinned materialization
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # a join keyed on the pinned layout needs no exchange on the pinned side
    sk = _lc_pinned(
        spark.range(31).select(F.col("id").alias("node")).repartition(n, "node")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ck.join(sk, ck["dst"] == sk["node"]).groupBy("src").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # exactly the aggregation exchange — neither join side re-shuffles
    assert plan.count("Exchange") == 1, plan

