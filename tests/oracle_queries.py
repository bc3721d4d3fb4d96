"""Query/oracle pairs for tests/test_oracle.py.

``QUERIES`` maps each name to ``(query, sql)``. ``query(spark, sf_dir)``
runs a hail_spark pipeline over the synthetic TPC-H-style parquet tables
in ``sf_dir`` (region nation customer supplier part orders lineitem
events documents embeddings) and returns a DataFrame. ``sql`` computes
the same result independently in DuckDB over views of those tables.

Float determinism: every floating SUM/AVG is accumulated in
DECIMAL(38,6) on BOTH sides (Spark and DuckDB) and cast back to double —
double reductions are order-dependent, decimal ones are exact, so the
compare is stable regardless of partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hail_spark import Table, agg, desc, hf
from hail_spark.operators import scans

# Directory for the files that round-trip queries write and read back;
# tests/test_oracle.py points it at a pytest temp directory.
STAGING: str | None = None


def _stage(name: str, sf_dir: str) -> str:
    """Staging path for one query at one scale factor."""
    return os.path.join(STAGING, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")


def _t(spark: SparkSession, sf_dir: str, name: str, key: tuple[str, ...] = ()) -> Table:
    # events.parquet uses TIMESTAMP(NANOS); read as int64 nanos (same order)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return Table(df, key=key)


def _dsum(col, alias):
    """Order-independent float sum → double."""
    return F.sum(col.cast("decimal(38,6)")).cast("double").alias(alias)


def _arr_str(col, scale: str = "decimal(18,2)"):
    """Canonical string form of a numeric array (fixed-scale decimal elements,
    comma-joined) — the comparison rejects list-typed cells, so array
    outputs are compared as strings on both the Spark and DuckDB sides."""
    return F.array_join(F.transform(col, lambda x: x.cast(scale).cast("string")), ",")


def _micros(col_name: str):
    """TIMESTAMP_NTZ -> epoch microseconds, timezone-free (mirrors
    DuckDB's epoch_us on the same parquet column)."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(col_name),
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + groupBy + rich aggregate + order
    (TableFilter + TableKeyByAndAggregate + TableOrderBy)."""
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp")
    out = (
        li.filter(F.col("l_shipdate") <= cutoff)
        .group_by("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"),
            sum_base_price=F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double"),
            sum_disc_price=F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
            ).cast("double"),
            sum_charge=F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(38,6)")
            ).cast("double"),
            count_order=agg.count(),
        )
        .annotate(
            avg_qty=F.col("sum_qty") / F.col("count_order"),
            avg_price=F.col("sum_base_price") / F.col("count_order"),
        )
        .order_by("l_returnflag", "l_linestatus")
    )
    return out.df


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way key join + group + top-k (TableJoin + TableKeyByAndAggregate
    + TableOrderBy + TableHead)."""
    cust = _t(spark, sf_dir, "customer", ("c_custkey",)).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders", ("o_custkey",))
    li = _t(spark, sf_dir, "lineitem", ("l_orderkey",))
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    j = cust.join(orders.rename({"o_custkey": "c_custkey"}).key_by("c_custkey"), "inner")
    j = j.filter(F.col("o_orderdate") < cutoff).key_by("o_orderkey")
    j2 = j.join(li.rename({"l_orderkey": "o_orderkey"}).key_by("o_orderkey"), "inner")
    j2 = j2.filter(F.col("l_shipdate") > cutoff)
    out = (
        j2.group_by("o_orderkey", "o_orderdate", "o_orderpriority")
        .aggregate(
            revenue=F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
            ).cast("double")
        )
        .order_by(desc("revenue"), "o_orderkey")
        .head(10)
    )
    return out.df


_Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join through the dimension chain (broadcast-able dims)."""
    region = _t(spark, sf_dir, "region", ("r_regionkey",))
    nation = _t(spark, sf_dir, "nation", ("n_regionkey",))
    cust = _t(spark, sf_dir, "customer", ("c_nationkey",))
    orders = _t(spark, sf_dir, "orders", ("o_custkey",))
    li = _t(spark, sf_dir, "lineitem", ("l_orderkey",))
    n = nation.join(region.rename({"r_regionkey": "n_regionkey"}).key_by("n_regionkey"))
    c = cust.join(
        n.rename({"n_nationkey": "c_nationkey"}).key_by("c_nationkey").drop("n_regionkey")
    )
    o = orders.rename({"o_custkey": "c_custkey"}).key_by("c_custkey").join(
        c.key_by("c_custkey")
    )
    l = li.rename({"l_orderkey": "o_orderkey"}).key_by("o_orderkey").join(
        o.key_by("o_orderkey")
    )
    out = (
        l.group_by("r_name", "n_name")
        .aggregate(
            revenue=F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
            ).cast("double"),
            n_items=agg.count(),
        )
        .order_by("r_name", "n_name")
    )
    return out.df


_Q5_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM region, nation, customer, orders, lineitem
WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter + whole-table aggregate (TableFilter + TableAggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    out = (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .group_by()
        .aggregate(
            revenue=F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,6)")
            ).cast("double"),
            n=agg.count(),
        )
    )
    return out.df


_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def group_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.counter as distributed group-by (aggregators.py:709)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.group_by("o_orderpriority", "o_orderstatus")
        .aggregate(n=agg.count())
        .order_by("o_orderpriority", "o_orderstatus")
        .df
    )


_COUNTER_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


def order_by_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total sort + head (TableOrderBy + TableHead → TakeOrdered)."""
    o = _t(spark, sf_dir, "orders")
    out = o.order_by(desc("o_totalprice"), "o_orderkey").head(100)
    return out.df.select("o_orderkey", "o_custkey", "o_totalprice")


_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def distinct_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.distinct (first row per key; ref table.py:4516) — projected
    to the key so the result is deterministic."""
    o = _t(spark, sf_dir, "orders", ("o_custkey",))
    return o.select().distinct().df


_DISTINCT_SQL = "SELECT DISTINCT o_custkey FROM orders"


def semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.semi_join (table.py:3260)."""
    c = _t(spark, sf_dir, "customer", ("c_custkey",))
    o = _t(spark, sf_dir, "orders", ("o_custkey",)).filter(
        F.col("o_totalprice") > 200000
    )
    return c.semi_join(o).select("c_name", "c_acctbal").df


_SEMI_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
"""


def anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.anti_join (table.py:3346)."""
    c = _t(spark, sf_dir, "customer", ("c_custkey",))
    o = _t(spark, sf_dir, "orders", ("o_custkey",))
    return c.anti_join(o).select("c_name").df


_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
"""


def left_join_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableLeftJoinRightDistinct — the `ht[expr]` annotation join."""
    c = _t(spark, sf_dir, "customer", ("c_nationkey",))
    n = _t(spark, sf_dir, "nation", ("n_nationkey",)).rename(
        {"n_nationkey": "c_nationkey"}
    ).key_by("c_nationkey")
    out = c.left_join_right_distinct(n).select("c_custkey", "c_name", "n_name")
    return out.df.select("c_custkey", "c_name", "n_name")


_LJRD_SQL = """
SELECT c_custkey, c_name, n_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableExplode (table_ir.py:221): documents → words → counts."""
    d = _t(spark, sf_dir, "documents", ("doc_id",))
    words = d.annotate(word=F.split(F.trim(F.col("text")), " +")).explode("word")
    out = (
        words.filter(F.col("word") != "")
        .group_by("word")
        .aggregate(n=agg.count())
        .order_by(desc("n"), "word")
        .head(50)
    )
    return out.df


_EXPLODE_SQL = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY n DESC, word LIMIT 50
"""


def scan_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exclusive prefix sum (hl.scan.sum parity) over events
    in (ts, event_id) order. Decimal accumulation → exact match."""
    e = _t(spark, sf_dir, "events", ("ts", "event_id"))
    out = scans.scan_sum(e, F.col("value").cast("decimal(38,6)"), "run")
    df = out.df.select(
        "event_id", F.col("run").cast("double").alias("run")
    )
    return df


_SCAN_SQL = """
SELECT event_id,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6)))
         OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS DOUBLE) AS run
FROM events
"""


def add_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense add_index via distributed scan_count (table.py:2870)."""
    o = _t(spark, sf_dir, "orders", ("o_orderkey",))
    return o.add_index("rank").df.select("o_orderkey", "rank")


_ADD_INDEX_SQL = """
SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rank
FROM orders
"""


def interval_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableIntervalJoin shape (table_ir.py:111): point (o_totalprice)
    vs interval table (price bands) containment join, broadcast side."""
    o = _t(spark, sf_dir, "orders")
    bands = Table.range(spark, 60).annotate(
        lo=F.col("idx").cast("double") * 10000.0,
        hi=(F.col("idx") + 1).cast("double") * 10000.0,
    ).rename({"idx": "band"})
    from hail_spark.operators.interval_join import interval_join_point

    out = interval_join_point(
        o, bands, point=F.col("o_totalprice"), start="lo", end="hi"
    )
    return (
        out.group_by("band")
        .aggregate(n=agg.count(), total=_c_dsum(F.col("o_totalprice")))
        .order_by("band")
        .df
    )


def _c_dsum(col):
    return F.sum(col.cast("decimal(38,6)")).cast("double")


_INTERVAL_SQL = """
SELECT g.band, COUNT(*) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders o
JOIN (SELECT i AS band, i*10000.0 AS lo, (i+1)*10000.0 AS hi
      FROM generate_series(0, 59) t(i)) g
  ON o.o_totalprice >= g.lo AND o.o_totalprice < g.hi
GROUP BY g.band ORDER BY g.band
"""


def collect_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect/collect_by_key: sorted array agg per key (table.py:4458)."""
    o = _t(spark, sf_dir, "orders", ("o_custkey",))
    out = o.group_by("o_custkey").aggregate(
        prices=F.sort_array(F.collect_list("o_totalprice")),
        n=agg.count(),
    )
    # Array columns are serialized to canonical strings (fixed-scale decimal
    # elements, comma-joined) so the comparison can sort and hash rows.
    out = out.annotate(prices=_arr_str(F.col("prices")))
    return out.order_by("o_custkey").df


_COLLECT_SQL = """
SELECT o_custkey,
       array_to_string(list_transform(list(o_totalprice ORDER BY o_totalprice),
                                      x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)),
                       ',') AS prices,
       COUNT(*) AS n
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


def take_by_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.take(..., ordering=...) / TakeBy (aggregators.py:770) via
    the BOUNDED window-rank plan (operators/topk.py): per-group state is
    ≤ n rows after the rank filter, hot-key safe at scale."""
    from hail_spark.operators.topk import grouped_take_by

    li = _t(spark, sf_dir, "lineitem", ("l_orderkey",))
    out = grouped_take_by(
        li.df,
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        F.col("l_extendedprice"),
        3,
        out="top3",
    )
    return out.withColumn("top3", _arr_str(F.col("top3"))).orderBy("l_suppkey")


_TAKEBY_SQL = """
SELECT l_suppkey,
       array_to_string(list_transform(
           (list(l_extendedprice ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber))[1:3],
           x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS top3
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
"""


def scan_combinators_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.scan combinators (ref test_expr.py:1118-1211): filter (masked
    input), explode (flattened collect), group_by (prefix key→values
    map), all exclusive scans in key order over the two-pass primitive.
    Collections serialize to canonical strings for the hash compare."""
    o = (
        _t(spark, sf_dir, "orders", ("o_orderkey",))
        .filter(F.col("o_orderkey") % 193 == 0)
        .key_by("o_orderkey")
        .repartition(4, shuffle=True)
    )
    # all three combinator scans ride ONE up-pass + ONE down-pass (the
    # chained form ran 3 jobs that each re-executed the chain)
    t = scans.scan_multi(
        o,
        {
            "fp": (
                "collect",
                scans.scan_filter(
                    F.col("o_orderstatus") == "F", F.col("o_totalprice")
                ),
            ),
            "flat": (
                "collect_explode",
                F.array(F.col("o_custkey") % 10, F.col("o_custkey") % 7),
            ),
            "grp": ("group_by", F.col("o_orderstatus"), F.col("o_orderkey")),
        },
    )
    m = F.col("grp")
    ks = F.array_sort(F.map_keys(m))
    grp_str = F.array_join(
        F.transform(
            ks,
            lambda k: F.concat(
                k,
                F.lit("=["),
                F.array_join(F.transform(m[k], lambda v: v.cast("string")), ","),
                F.lit("]"),
            ),
        ),
        ";",
    )
    return t.df.select(
        "o_orderkey",
        _arr_str(F.col("fp")).alias("fp"),
        F.array_join(F.transform(F.col("flat"), lambda x: x.cast("string")), ",").alias("flat"),
        grp_str.alias("grp"),
    ).orderBy("o_orderkey")


_SCAN_COMBINATORS_SQL = """
WITH o AS (SELECT o_orderkey, o_orderstatus, o_custkey, o_totalprice
           FROM orders WHERE o_orderkey % 193 = 0),
w AS (
  SELECT o_orderkey,
    COALESCE(list_filter(array_agg(CASE WHEN o_orderstatus = 'F'
                                        THEN o_totalprice END)
      OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      x -> x IS NOT NULL), []) AS fp,
    COALESCE(flatten(array_agg([o_custkey % 10, o_custkey % 7])
      OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), []) AS flat,
    COALESCE(array_agg({'k': o_orderstatus, 'v': o_orderkey})
      OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), []) AS pairs
  FROM o)
SELECT o_orderkey,
  COALESCE(array_to_string(list_transform(fp, x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ','), '') AS fp,
  COALESCE(array_to_string(list_transform(flat, x -> CAST(x AS VARCHAR)), ','), '') AS flat,
  COALESCE(array_to_string(
    list_transform(
      list_sort(list_distinct(list_transform(pairs, p -> p.k))),
      k -> k || '=[' ||
           COALESCE(array_to_string(
             list_transform(list_filter(pairs, p -> p.k = k), p -> CAST(p.v AS VARCHAR)),
             ','), '') || ']'),
    ';'), '') AS grp
FROM w ORDER BY o_orderkey
"""


def scan_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full hl.scan.* generality (ref aggregators.py:2049-2081): sum,
    min/max, fraction, any/all, collect, take, stats, counter, product
    as exclusive prefix scans in key order, all via the distributed
    two-pass primitive (operators/scans.py). Oracle: DuckDB window
    functions over ROWS UNBOUNDED PRECEDING TO 1 PRECEDING."""
    # small keyed slice: pin it to a few range partitions and persist so
    # the 11 chained up-passes don't re-execute the scan chain each time
    o = (
        _t(spark, sf_dir, "orders", ("o_orderkey",))
        .filter(F.col("o_orderkey") % 97 == 0)
        .key_by("o_orderkey")
        .repartition(4, shuffle=True)
        .persist()
    )
    price = F.col("o_totalprice")
    pred = price > 100000.0
    t = scans.scan_multi(
        o,
        {
            "run_sum": ("sum", price.cast("decimal(38,6)")),
            "run_min": ("min", price),
            "run_max": ("max", price),
            "run_frac": ("fraction", pred),
            "run_any": ("any", pred),
            "run_all": ("all", pred),
            "prefix_prices": ("collect", price),
            "take3": ("take", price, 3),
            "st": ("stats", price),
            "cnt": ("counter", F.col("o_orderstatus")),
            "run_prod": (
                "product",
                F.when(F.col("o_orderkey") % 1000 == 0, 2.0).otherwise(1.0),
            ),
        },
    )
    m = F.col("cnt")
    out = t.df.select(
        "o_orderkey",
        F.col("run_sum").cast("double").alias("run_sum"),
        "run_min",
        "run_max",
        "run_frac",
        "run_any",
        "run_all",
        _arr_str(F.col("prefix_prices")).alias("prefix_prices"),
        _arr_str(F.col("take3")).alias("take3"),
        F.round(F.col("st")["mean"], 3).alias("st_mean"),
        F.round(F.col("st")["stdev"], 3).alias("st_stdev"),
        F.col("st")["n"].alias("st_n"),
        F.array_join(
            F.transform(
                F.map_keys(m),
                lambda k: F.concat(k, F.lit(":"), F.element_at(m, k).cast("string")),
            ),
            ",",
        ).alias("cnt"),
        "run_prod",
    )
    return out.orderBy("o_orderkey")


_SCAN_BATTERY_SQL = """
WITH src AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus,
         o_totalprice > 100000.0 AS pred,
         CASE WHEN o_orderkey % 1000 = 0 THEN 2.0 ELSE 1.0 END AS pf
  FROM orders WHERE o_orderkey % 97 = 0),
w AS (
  SELECT o_orderkey,
    COALESCE(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        OVER wex AS VARCHAR) AS DOUBLE), 0.0) AS run_sum,
    MIN(o_totalprice) OVER wex AS run_min,
    MAX(o_totalprice) OVER wex AS run_max,
    CAST(SUM(CASE WHEN pred THEN 1 ELSE 0 END) OVER wex AS DOUBLE)
        / NULLIF(CAST(COUNT(*) OVER wex AS DOUBLE), 0.0) AS run_frac,
    COALESCE(BOOL_OR(pred) OVER wex, false) AS run_any,
    COALESCE(BOOL_AND(pred) OVER wex, true) AS run_all,
    COALESCE(list(o_totalprice) OVER wex, []) AS pp,
    COALESCE(list(o_orderstatus) OVER wex, []) AS ps,
    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER wex AS VARCHAR)
        AS DOUBLE) AS s,
    CAST(CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
        OVER wex AS VARCHAR) AS DOUBLE) AS ss,
    COUNT(o_totalprice) OVER wex AS n,
    COALESCE(product(pf) OVER wex, 1.0) AS run_prod
  FROM src
  WINDOW wex AS (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT o_orderkey, run_sum, run_min, run_max, run_frac, run_any, run_all,
  COALESCE(array_to_string(list_transform(pp,
      x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ','), '') AS prefix_prices,
  COALESCE(array_to_string(list_transform(pp[1:3],
      x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ','), '') AS take3,
  CASE WHEN n > 0 THEN round(s / CAST(n AS DOUBLE), 3) END AS st_mean,
  CASE WHEN n > 0 THEN round(sqrt(greatest(
      ss / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)),
      0.0)), 3) END AS st_stdev,
  CASE WHEN n > 0 THEN n END AS st_n,
  COALESCE(array_to_string(list_transform(list_sort(list_distinct(ps)),
      k -> k || ':' || CAST(len(list_filter(ps, e -> e = k)) AS VARCHAR)), ','), '') AS cnt,
  run_prod
FROM w ORDER BY o_orderkey
"""


def string_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (§2.9 strings): length/upper/split/regex."""
    d = _t(spark, sf_dir, "documents", ("doc_id",))
    out = d.select(
        n_chars2=hf.str_len(F.col("text")),
        upper_lang=hf.upper(F.col("lang")),
        n_words=F.size(F.split(F.trim(F.col("text")), " +")),
        has_data=hf.matches(F.col("text"), "data"),
        head20=hf.substring(F.col("text"), 0, 20),
        joined=hf.format("%s|%s", F.col("lang"), F.col("source")),
    )
    return out.df


_STRING_SQL = """
SELECT doc_id,
       LENGTH(text)::INT AS n_chars2,
       UPPER(lang) AS upper_lang,
       len(regexp_split_to_array(trim(text), ' +')) AS n_words,
       regexp_matches(text, 'data') AS has_data,
       substr(text, 1, 20) AS head20,
       printf('%s|%s', lang, source) AS joined
FROM documents
"""


def union_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableUnion (table_ir.py:142)."""
    o = _t(spark, sf_dir, "orders", ("o_orderkey",))
    hi = o.filter(F.col("o_totalprice") > 150000)
    lo = o.filter(F.col("o_totalprice") <= 150000)
    out = hi.union(lo).group_by("o_orderstatus").aggregate(
        n=agg.count(), total=_c_dsum(F.col("o_totalprice"))
    )
    return out.order_by("o_orderstatus").df


_UNION_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM (SELECT * FROM orders WHERE o_totalprice > 150000
      UNION ALL
      SELECT * FROM orders WHERE o_totalprice <= 150000)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def union_unify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.union(unify=True) (ref Table.union table.py:3771): three
    customer projections with different field sets / numeric widths —
    missing fields pad to NULL, int32 score promotes to double."""
    c = _t(spark, sf_dir, "customer", ("c_custkey",))
    t1 = c.filter(F.col("c_custkey") % 3 == 0).select(
        key=F.col("c_custkey"), score=F.col("c_nationkey").cast("int")
    )
    t2 = c.filter(F.col("c_custkey") % 3 == 1).select(
        key=F.col("c_custkey"), seg=F.col("c_mktsegment")
    )
    t3 = c.filter(F.col("c_custkey") % 3 == 2).select(
        key=F.col("c_custkey"), score=F.col("c_acctbal").cast("double"), seg=F.col("c_mktsegment")
    )
    u = t1.key_by("key").union(t2.key_by("key"), t3.key_by("key"), unify=True)
    return (
        u.df.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("score").alias("n_score"),
            F.round(F.sum(F.col("score").cast("decimal(38,6)")).cast("double"), 6).alias("sum_score"),
        )
        .orderBy(F.col("seg").asc_nulls_first())
    )


_UNION_UNIFY_SQL = """
WITH u AS (
  SELECT CAST(c_nationkey AS DOUBLE) AS score, NULL AS seg
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT NULL AS score, c_mktsegment AS seg
  FROM customer WHERE c_custkey % 3 = 1
  UNION ALL
  SELECT CAST(c_acctbal AS DOUBLE) AS score, c_mktsegment AS seg
  FROM customer WHERE c_custkey % 3 = 2)
SELECT seg, COUNT(*) AS n, COUNT(score) AS n_score,
       CAST(ROUND(SUM(CAST(score AS DECIMAL(38,6))), 6) AS DOUBLE) AS sum_score
FROM u GROUP BY seg ORDER BY seg NULLS FIRST
"""


def prev_nonnull_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.scan.prev_nonnull analogue over events ordered by (ts,event_id):
    carry the last 'purchase' event's value forward."""
    e = _t(spark, sf_dir, "events", ("ts", "event_id"))
    e = e.annotate(
        purchase_value=F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = scans.prev_nonnull(e, F.col("purchase_value"), "last_purchase")
    return out.df.select("event_id", "last_purchase")


_PREV_SQL = """
SELECT event_id,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase
FROM events
"""


def _events_mt(spark: SparkSession, sf_dir: str):
    """users × event_types matrix: entries = (v=sum value, n=count)."""
    from hail_spark.matrixtable import MatrixTable

    e = _t(spark, sf_dir, "events").df
    long = e.groupBy("user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    return MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["v", "n"]
    )


_MT_LONG_CTE = """
long AS (SELECT user_id, event_type, SUM(CAST(value AS DECIMAL(38,6))) v, COUNT(*) n
         FROM events GROUP BY 1, 2)
"""


def mt_row_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise entry aggregation via array HOFs (one pass, no explode —
    the annotate_rows(hl.agg...) path, AggArrayPerElement V:2559)."""
    mt = _events_mt(spark, sf_dir)

    def stats(entries):
        defined = F.filter(entries, lambda x: x.isNotNull())
        return {
            "row_total": F.aggregate(
                defined,
                F.lit(0).cast("decimal(38,6)"),
                lambda acc, x: acc + x["v"],
            ).cast("double"),
            "n_types": F.size(defined).cast("int"),
            "n_events": F.aggregate(
                defined, F.lit(0).cast("bigint"), lambda acc, x: acc + x["n"]
            ),
        }

    out = mt.annotate_rows_agg_entries(stats)
    return out.rows().df.select("user_id", "row_total", "n_types", "n_events").orderBy("user_id")


_MT_ROW_AGG_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT user_id, CAST(SUM(v) AS DOUBLE) AS row_total,
       CAST(COUNT(*) AS INT) AS n_types, CAST(SUM(n) AS BIGINT) AS n_events
FROM long GROUP BY user_id ORDER BY user_id
"""
)


def mt_col_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column aggregation across all rows (aggregate_cols_elementwise:
    posexplode + groupBy col index)."""
    mt = _events_mt(spark, sf_dir)
    out = mt.aggregate_cols_elementwise(
        {
            "n_users": lambda e: F.count(e["v"]),
            "total": lambda e: F.sum(e["v"]).cast("double"),
        }
    )
    return out.select("event_type", "n_users", "total").orderBy("event_type")


_MT_COL_AGG_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT event_type, COUNT(*) AS n_users, CAST(SUM(v) AS DOUBLE) AS total
FROM long GROUP BY event_type ORDER BY event_type
"""
)


def mt_group_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixAggregateRowsByKey (M:21): re-key rows by bucket, aggregate
    entries per (group, column)."""
    mt = _events_mt(spark, sf_dir)
    g = mt.group_rows_by((F.col("user_id") % 10).alias("bucket")).aggregate(
        total_n=lambda e: F.sum(e["n"]),
        total_v=lambda e: F.sum(e["v"]).cast("double"),
    )
    out = g.entries().df.select("bucket", "event_type", "total_n", "total_v")
    return out.filter(F.col("total_n").isNotNull()).orderBy("bucket", "event_type")


_MT_GROUP_ROWS_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT user_id % 10 AS bucket, event_type,
       CAST(SUM(n) AS BIGINT) AS total_n, CAST(SUM(v) AS DOUBLE) AS total_v
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def mt_filter_entries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixFilterEntries (M:451): filtered entries become missing,
    then entries() long-form count per column."""
    mt = _events_mt(spark, sf_dir)
    f = mt.filter_entries(lambda e: e["n"] >= 3)
    long = f.entries().df
    return (
        long.filter(F.col("n").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("sum_n"),
        )
        .orderBy("event_type")
    )


_MT_FILTER_ENTRIES_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT event_type, COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS sum_n
FROM long WHERE n >= 3 GROUP BY event_type ORDER BY event_type
"""
)


def mt_group_cols_by_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixAggregateColsByKey (matrix_ir.py:688): group the event_type
    columns by first letter, aggregate per (row, col-group). The col
    groups resolve driver-side so the whole aggregate is one zero-shuffle
    array projection."""
    mt = _events_mt(spark, sf_dir)
    mt = mt.annotate_cols(lambda c: {"grp": c["event_type"][0]})
    g = mt.group_cols_by("grp").aggregate(
        total_n=lambda es: F.aggregate(
            F.filter(es, lambda e: e.isNotNull()),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc + e["n"],
        ),
        total_v=lambda es: F.aggregate(
            F.filter(es, lambda e: e.isNotNull()),
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, e: acc + e["v"],
        ).cast("double"),
    )
    long = g.entries().df
    return (
        long.filter(F.col("total_n") > 0)
        .select("user_id", "grp", "total_n", "total_v")
        .orderBy("user_id", "grp")
    )


_MT_GROUP_COLS_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT user_id, substr(event_type, 1, 1) AS grp,
       CAST(SUM(n) AS BIGINT) AS total_n, CAST(SUM(v) AS DOUBLE) AS total_v
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def mt_explode_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixExplodeRows / MatrixExplodeCols (matrix_ir.py:1220/1261):
    rows duplicate per element of a row array (1 or 2 tags by user
    parity), columns duplicate per element of a col array (foo in
    {0,1}); entries ride along by source index — both explodes are
    zero-shuffle array projections."""
    mt = _events_mt(spark, sf_dir)
    mt = mt.annotate_rows(
        tags=F.sequence(F.lit(1).cast("bigint"), (F.lit(1) + F.col("user_id") % 2))
    )
    mt = mt.explode_rows("tags")
    mt = mt.annotate_cols(lambda c: {"foo": [0, 1]})
    mt = mt.explode_cols("foo")
    mt = mt.annotate_entries_with_cols(
        lambda e, c: {"val": e["n"] * (c["foo"] + 1).cast("bigint")}
    )
    long = mt.entries().df
    return (
        long.filter(F.col("val").isNotNull())
        .groupBy(F.col("tags").alias("tag"), F.col("foo"))
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum("val").cast("bigint").alias("total"),
        )
        .orderBy("tag", "foo")
    )


_MT_EXPLODE_SQL = (
    "WITH " + _MT_LONG_CTE + """,
tags AS (SELECT user_id, UNNEST(range(1, 2 + user_id % 2)) AS tag
         FROM (SELECT DISTINCT user_id FROM events)),
foos AS (SELECT UNNEST([0, 1]) AS foo)
SELECT t.tag, f.foo, COUNT(*) AS n_entries,
       CAST(SUM(l.n * (f.foo + 1)) AS BIGINT) AS total
FROM long l JOIN tags t USING (user_id) CROSS JOIN foos f
GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def mt_semi_join_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT semi/anti row joins (matrixtable.py:1535): keep matrix rows
    (users) that appear in a keyed table of heavy users, then row-agg."""
    from hail_spark.table import Table as _Tbl

    mt = _events_mt(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").df
    heavy = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 12)
        .select("user_id")
    )
    kept = mt.semi_join_rows(_Tbl(heavy, ("user_id",)))
    out = kept.annotate_rows_agg_entries(
        lambda es: {
            "n_events": F.aggregate(
                F.filter(es, lambda e: e.isNotNull()),
                F.lit(0).cast("bigint"),
                lambda acc, e: acc + e["n"],
            )
        }
    )
    return out.rows().df.select("user_id", "n_events").orderBy("user_id")


_MT_SEMI_ROWS_SQL = (
    "WITH " + _MT_LONG_CTE + """
, heavy AS (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 12)
SELECT l.user_id, CAST(SUM(l.n) AS BIGINT) AS n_events
FROM long l SEMI JOIN heavy h ON l.user_id = h.user_id
GROUP BY l.user_id ORDER BY l.user_id
"""
)


def inbreeding_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.inbreeding (aggregators.py:1272) over synthetic biallelic
    calls: gt = user_id % 3, prior AF from a hash of the event id —
    one partial aggregate per event_type, no UDF."""
    from hail_spark.expr import aggregators as agg

    e = _t(spark, sf_dir, "events").df
    gt = (F.col("user_id") % 3).cast("int")
    af = F.col("event_id") % 1000 / 2000.0 + 0.25
    ib = e.groupBy("event_type").agg(
        agg.inbreeding(gt, af).alias("ib")
    )
    return ib.select(
        "event_type",
        F.round(F.col("ib.f_stat"), 9).alias("f_stat"),
        F.col("ib.n_called").alias("n_called"),
        F.round(F.col("ib.expected_homs"), 6).alias("expected_homs"),
        F.col("ib.observed_homs").alias("observed_homs"),
    ).orderBy("event_type")


def variant_qc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variant_qc (ref qc.py:219) over an events-derived call matrix:
    GT = n % 3 per (user, event_type); per-row QC is one array-HOF pass
    inside whole-stage codegen."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.qc import variant_qc

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    out = variant_qc(mt).rows().df
    return out.select(
        "user_id",
        F.round(F.col("variant_qc.call_rate"), 9).alias("call_rate"),
        F.col("variant_qc.n_called").alias("n_called"),
        F.col("variant_qc.n_het").alias("n_het"),
        F.col("variant_qc.n_hom_ref").alias("n_hom_ref"),
        F.col("variant_qc.n_hom_var").alias("n_hom_var"),
        F.col("variant_qc.AC")[1].alias("ac_alt"),
        F.round(F.col("variant_qc.AF")[1], 9).alias("af_alt"),
    ).orderBy("user_id")


_VARIANT_QC_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
ntypes AS (SELECT COUNT(DISTINCT event_type) nt FROM events)
SELECT user_id,
       ROUND(COUNT(*) / CAST((SELECT nt FROM ntypes) AS DOUBLE), 9) AS call_rate,
       CAST(COUNT(*) AS INT) AS n_called,
       CAST(SUM(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS INT) AS n_het,
       CAST(SUM(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS INT) AS n_hom_ref,
       CAST(SUM(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS INT) AS n_hom_var,
       CAST(SUM(gt) AS INT) AS ac_alt,
       ROUND(SUM(gt) / CAST(2 * COUNT(*) AS DOUBLE), 9) AS af_alt
FROM long GROUP BY user_id ORDER BY user_id
"""


def sample_qc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_qc (ref qc.py:59): per-column QC as one map-only
    per-sample accumulation over the entries arrays (no per-entry
    shuffle)."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.qc import sample_qc

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    out = sample_qc(mt)
    return out.select(
        "event_type",
        F.col("n_called").cast("bigint").alias("n_called"),
        F.col("n_het").cast("bigint").alias("n_het"),
        F.col("n_non_ref").cast("bigint").alias("n_non_ref"),
        F.round("call_rate", 9).alias("call_rate"),
    ).orderBy("event_type")


_SAMPLE_QC_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
nusers AS (SELECT COUNT(DISTINCT user_id) nu FROM events)
SELECT event_type,
       COUNT(*) AS n_called,
       CAST(SUM(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
       CAST(SUM(CASE WHEN gt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_non_ref,
       ROUND(COUNT(*) / CAST((SELECT nu FROM nusers) AS DOUBLE), 9) AS call_rate
FROM long GROUP BY event_type ORDER BY event_type
"""


def king_kinship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KING-robust between-family kinship (ref relatedness/king.py) over
    the events call matrix. Engine side: three s×s gemm accumulators in
    one mapInPandas pass (no shuffle); oracle: pairwise self-join replay
    of the same counts."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.relatedness import king

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    out = king(mt)
    return out.select("i", "j", F.round("phi", 9).alias("phi")).orderBy("i", "j")


_KING_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
pair AS (
  SELECT a.event_type i, b.event_type j,
         SUM(CASE WHEN a.gt = 1 AND b.gt = 1 THEN 1 ELSE 0 END) hh,
         SUM(CASE WHEN (a.gt = 0 AND b.gt = 2) OR (a.gt = 2 AND b.gt = 0)
                  THEN 1 ELSE 0 END) opp,
         SUM(CASE WHEN a.gt = 1 THEN 1 ELSE 0 END) het_i,
         SUM(CASE WHEN b.gt = 1 THEN 1 ELSE 0 END) het_j
  FROM long a JOIN long b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT i, j,
       ROUND(0.5 + (2.0*hh - 4.0*opp - het_i - het_j)
             / (4.0 * LEAST(het_i, het_j)), 9) AS phi
FROM pair ORDER BY i, j
"""


def split_multi_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_multi_hts (ref statgen.py:3312): synthetic multiallelic
    sites from events (half tri-allelic), downcoded per split allele.
    The split is a posexplode over alt indices — narrow, no shuffle."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.methods.genetics import split_multi_hts

    ev = _t(spark, sf_dir, "events").df
    n_all = (F.col("user_id") % 2 + 2).cast("int")  # 2 or 3 alleles
    long = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "user_id",
        "event_type",
        F.array(
            F.pmod(F.col("n"), n_all).cast("int"),
            F.pmod(F.col("n") + F.col("user_id"), n_all).cast("int"),
        ).alias("GTA"),
    )
    types = sorted(r["event_type"] for r in long.select("event_type").distinct().collect())
    tmap = F.create_map(*[x for i, t in enumerate(types) for x in (F.lit(t), F.lit(i))])
    g = long.select(
        "user_id", tmap[F.col("event_type")].alias("__i"), F.struct("GTA").alias("__e")
    ).groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("__i", "__e"))).alias("__m")
    )
    alleles = F.when(
        F.col("user_id") % 2 == 0, F.array(F.lit("A"), F.lit("T"))
    ).otherwise(F.array(F.lit("A"), F.lit("T"), F.lit("G")))
    rows = g.select(
        "user_id",
        alleles.alias("alleles"),
        F.transform(
            F.sequence(F.lit(0), F.lit(len(types) - 1)), lambda i: F.col("__m")[i]
        ).alias(ENTRIES),
    )
    mt = MatrixTable(rows, ("user_id",), [{"s": t} for t in types], ("s",))
    out = split_multi_hts(mt).entries().df
    return (
        out.filter(F.col("GT").isNotNull())
        .select("user_id", "a_index", F.col("s").alias("event_type"), "GT")
        .orderBy("user_id", "a_index", "event_type")
    )


_SPLIT_MULTI_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
calls AS (
  SELECT user_id, event_type,
         CAST(user_id % 2 + 2 AS INT) n_all,
         CAST(n % (user_id % 2 + 2) AS INT) a1,
         CAST((n + user_id) % (user_id % 2 + 2) AS INT) a2
  FROM long),
alts AS (SELECT DISTINCT user_id, UNNEST(range(1, n_all)) AS a_index FROM calls)
SELECT c.user_id, CAST(a.a_index AS INT) AS a_index, c.event_type,
       CAST((CASE WHEN c.a1 = a.a_index THEN 1 ELSE 0 END)
          + (CASE WHEN c.a2 = a.a_index THEN 1 ELSE 0 END) AS INT) AS GT
FROM calls c JOIN alts a ON c.user_id = a.user_id
ORDER BY c.user_id, a_index, event_type
"""


def concordance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dosage concordance of two call matrices (ref qc.py:360): inner
    row join + zip_with pair explode, one groupBy — no per-row UDF."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.genetics import concordance_pairs as concordance

    ev = _t(spark, sf_dir, "events").df
    base = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m1 = MatrixTable.from_long(
        base.select("user_id", "event_type", (F.col("n") % 3).cast("int").alias("GT")),
        row_key=["user_id"], col_key="event_type", entry_fields=["GT"],
    )
    m2 = MatrixTable.from_long(
        base.filter(F.col("n") % 7 != 0).select(
            "user_id", "event_type", ((F.col("n") + 1) % 3).cast("int").alias("GT")
        ),
        row_key=["user_id"], col_key="event_type", entry_fields=["GT"],
    )
    return concordance(m1, m2)


_CONCORDANCE_SQL = """
WITH base AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type FROM events),
u1 AS (SELECT DISTINCT user_id FROM base),
u2 AS (SELECT DISTINCT user_id FROM base WHERE n % 7 != 0),
grid AS (SELECT a.user_id, t.event_type FROM u1 a JOIN u2 b ON a.user_id = b.user_id
         CROSS JOIN types t),
g1 AS (SELECT g.user_id, g.event_type,
              COALESCE(CAST(b.n % 3 AS INT), -1) gt FROM grid g
       LEFT JOIN base b ON g.user_id = b.user_id AND g.event_type = b.event_type),
g2 AS (SELECT g.user_id, g.event_type,
              COALESCE(CAST((b.n + 1) % 3 AS INT), -1) gt FROM grid g
       LEFT JOIN (SELECT * FROM base WHERE n % 7 != 0) b
         ON g.user_id = b.user_id AND g.event_type = b.event_type)
SELECT g1.gt AS left_gt, g2.gt AS right_gt, COUNT(*) AS n
FROM g1 JOIN g2 ON g1.user_id = g2.user_id AND g1.event_type = g2.event_type
GROUP BY 1, 2 ORDER BY 1, 2
"""


def ld_matrix_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed LD matrix (ref statgen.py:3836) as sparse (pos_a,
    pos_b, r): banded self-join on position bins, Pearson r over
    mean-imputed calls — the BlockMatrix-free sparse form."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.misc import ld_matrix

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("c").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.col("__entries"),
    )
    mt = MatrixTable(rows, ("locus",), mt0._cols, mt0._col_key)
    out = ld_matrix(mt, bp_window_size=25)
    return (
        out.select(
            F.col("la")["position"].alias("pos_a"),
            F.col("lb")["position"].alias("pos_b"),
            (F.round("r", 9) + F.lit(0.0)).alias("r"),
        )
        .orderBy("pos_a", "pos_b")
    )


_LD_MATRIX_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type FROM events),
users AS (SELECT DISTINCT user_id FROM long),
imput AS (
  SELECT u.user_id, t.event_type,
         COALESCE(l.gt, AVG(l2.gt)) AS v
  FROM users u CROSS JOIN types t
  LEFT JOIN long l ON u.user_id = l.user_id AND t.event_type = l.event_type
  LEFT JOIN long l2 ON u.user_id = l2.user_id
  GROUP BY u.user_id, t.event_type, l.gt),
pairs AS (
  SELECT a.user_id pa, b.user_id pb, CORR(a.v, b.v) r
  FROM imput a JOIN imput b
    ON a.event_type = b.event_type
   AND b.user_id > a.user_id AND b.user_id - a.user_id <= 25
  GROUP BY 1, 2)
SELECT CAST(pa AS INT) AS pos_a, CAST(pb AS INT) AS pos_b, ROUND(r, 9) + 0.0 AS r
FROM pairs WHERE r IS NOT NULL ORDER BY pos_a, pos_b
"""


def mendel_errors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autosomal Mendel errors per variant (ref family_methods.py:130):
    trio gather is an index projection (no shuffle); the error predicate
    is one Column expression over (kid, dad, mom) GTs."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.genetics import mendel_errors_by_variant as mendel_errors

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    ).withColumnRenamed("event_type", "s")
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GT"]
    )
    fam = spark.createDataFrame(
        [
            {"fam_id": "f1", "id": "click", "pat_id": "view", "mat_id": "purchase", "is_female": False},
            {"fam_id": "f2", "id": "error", "pat_id": "signup", "mat_id": "click", "is_female": True},
        ]
    )
    out = mendel_errors(mt, fam)
    return out.select("user_id", "n_errors").orderBy("user_id")


_MENDEL_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
trio AS (SELECT 'click' kid, 'view' dad, 'purchase' mom
         UNION ALL SELECT 'error', 'signup', 'click'),
users AS (SELECT DISTINCT user_id FROM long),
j AS (
  SELECT u.user_id, k.gt kgt, d.gt dgt, m.gt mgt
  FROM users u CROSS JOIN trio t
  LEFT JOIN long k ON k.user_id = u.user_id AND k.event_type = t.kid
  LEFT JOIN long d ON d.user_id = u.user_id AND d.event_type = t.dad
  LEFT JOIN long m ON m.user_id = u.user_id AND m.event_type = t.mom)
SELECT user_id,
  CAST(SUM(CASE WHEN kgt IS NOT NULL AND dgt IS NOT NULL AND mgt IS NOT NULL AND (
       (dgt = 0 AND mgt = 0 AND kgt > 0) OR
       (dgt = 2 AND mgt = 2 AND kgt < 2) OR
       (dgt = 0 AND mgt = 2 AND kgt != 1) OR
       (dgt = 2 AND mgt = 0 AND kgt != 1) OR
       (dgt = 0 AND mgt = 1 AND kgt = 2) OR
       (dgt = 1 AND mgt = 0 AND kgt = 2) OR
       (dgt = 2 AND mgt = 1 AND kgt = 0) OR
       (dgt = 1 AND mgt = 2 AND kgt = 0)) THEN 1 ELSE 0 END) AS INT) AS n_errors
FROM j GROUP BY user_id ORDER BY user_id
"""


def hist_downsample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.hist (ref aggregators.py:1424) per event_type over value:
    fixed bin buffers with map-side partials — no per-group collect."""
    from hail_spark.expr import aggregators as agg

    ev = _t(spark, sf_dir, "events").df
    h = ev.groupBy("event_type").agg(
        agg.hist(F.col("value"), 0.0, 100.0, 10).alias("h")
    )
    return h.select(
        "event_type",
        _arr_str(F.col("h.bin_freq")).alias("bin_freq"),
        F.col("h.n_smaller").alias("n_smaller"),
        F.col("h.n_larger").alias("n_larger"),
    ).orderBy("event_type")


_HIST_SQL = """
WITH b AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
types AS (SELECT DISTINCT event_type FROM b),
bins AS (SELECT UNNEST(range(10)) AS bin),
counts AS (
  SELECT t.event_type, g.bin,
         (SELECT COUNT(*) FROM b
          WHERE b.event_type = t.event_type AND b.value >= 0 AND b.value <= 100
            AND (CASE WHEN b.value = 100.0 THEN 9
                      ELSE CAST(FLOOR(b.value / 10.0) AS INT) END) = g.bin) AS cnt
  FROM types t CROSS JOIN bins g)
SELECT t.event_type,
  (SELECT string_agg(CAST(CAST(cnt AS DECIMAL(18,2)) AS VARCHAR), ',' ORDER BY bin)
   FROM counts c WHERE c.event_type = t.event_type) AS bin_freq,
  (SELECT COUNT(*) FROM b WHERE b.event_type = t.event_type AND value < 0) AS n_smaller,
  (SELECT COUNT(*) FROM b WHERE b.event_type = t.event_type AND value > 100) AS n_larger
FROM types t ORDER BY event_type
"""


def import_table_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """import_table round trip (ref impex.py:1548):
    export a deterministic slice of lineitem as TSV (with NA missing
    sentinels), re-import with impute=True, aggregate the imputed-typed
    columns. The oracle replays the same slice/agg off parquet —
    matching results prove the text parse + type impute."""
    from hail_spark.io.impex import import_table

    li = _t(spark, sf_dir, "lineitem").df
    sl = li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") == 1, F.lit(None)).otherwise(
            F.col("l_quantity").cast("double")
        ).alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    d = _stage("import_table", sf_dir)
    (
        sl.coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "NA")
        .csv(d)
    )
    t = import_table(spark, d + "/*.csv", delimiter="\t", impute=True)
    dt = dict(t.df.dtypes)
    assert dt["l_orderkey"] in ("int", "bigint") and dt["qty"] == "double", dt
    return (
        t.df.groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("qty").alias("n_qty"),
            F.round(F.sum("qty"), 2).alias("sum_qty"),
            F.sum("l_orderkey").cast("bigint").alias("sum_key"),
        )
        .orderBy("flag")
    )


_IMPORT_TABLE_SQL = """
WITH sl AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_linenumber = 1 THEN NULL
              ELSE CAST(l_quantity AS DOUBLE) END AS qty,
         l_returnflag AS flag
  FROM lineitem WHERE l_orderkey % 100 = 0)
SELECT flag, COUNT(*) AS n_rows, COUNT(qty) AS n_qty,
       ROUND(SUM(qty), 2) AS sum_qty, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
FROM sl GROUP BY flag ORDER BY flag
"""


def vcf_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """export_vcf → import_vcf round trip (ref
    LoadVCF.scala / ExportVCF.scala): an events-derived call matrix is
    written as VCF text and re-parsed by the Catalyst line parser; the
    oracle replays the per-sample aggregate straight off parquet."""
    from hail_spark.io.vcf import export_vcf, import_vcf
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("gt")
    )
    types = sorted(r["event_type"] for r in long.select("event_type").distinct().collect())
    tmap = F.create_map(*[x for i, t in enumerate(types) for x in (F.lit(t), F.lit(i))])
    gta = F.array(
        F.when(F.col("gt") >= 1, 1).otherwise(0),
        F.when(F.col("gt") == 2, 1).otherwise(0),
    )
    entry = F.struct(
        F.col("gt").alias("GT"), gta.alias("GTA"), F.lit(False).alias("phased")
    )
    g = long.select(
        "user_id", tmap[F.col("event_type")].alias("__i"), entry.alias("__e")
    ).groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("__i", "__e"))).alias("__m")
    )
    rows = g.select(
        F.struct(F.lit("1").alias("contig"), F.col("user_id").cast("int").alias("position")).alias("locus"),
        F.array(F.lit("A"), F.lit("T")).alias("alleles"),
        F.lit(None).cast("string").alias("rsid"),
        F.lit(None).cast("double").alias("qual"),
        F.lit(None).cast("array<string>").alias("filters"),
        F.transform(F.sequence(F.lit(0), F.lit(len(types) - 1)), lambda i: F.col("__m")[i]).alias(ENTRIES),
    )
    mt = MatrixTable(rows, ("locus", "alleles"), [{"s": t} for t in types], ("s",))
    d = _stage("vcf_rt", sf_dir)
    export_vcf(mt, d)
    back = import_vcf(spark, d + "/part-*")
    long2 = back.entries().df
    return (
        long2.filter(F.col("GT").isNotNull())
        .groupBy(F.col("s").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_called"),
            F.sum("GT").cast("bigint").alias("sum_gt"),
        )
        .orderBy("event_type")
    )


_VCF_RT_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2)
SELECT event_type, COUNT(*) AS n_called, CAST(SUM(gt) AS BIGINT) AS sum_gt
FROM long GROUP BY event_type ORDER BY event_type
"""


def impute_sex_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """impute_sex (ref statgen.py:73): per-sample X inbreeding F over an
    events-derived X-chromosome call matrix; map-only accumulation."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.methods.genetics import impute_sex

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    ).withColumnRenamed("event_type", "s")
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GT"]
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("X").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.col(ENTRIES),
    )
    mt = MatrixTable(rows, ("locus",), mt0._cols, mt0._col_key)
    out = impute_sex(mt)
    return out.select(
        F.col("s").alias("event_type"),
        "is_female",
        F.round("f_stat", 9).alias("f_stat"),
        "n_called",
    ).orderBy("event_type")


_IMPUTE_SEX_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
af AS (SELECT user_id, AVG(gt) / 2.0 p FROM long GROUP BY user_id),
keep AS (SELECT user_id, p FROM af WHERE p > 0 AND p < 1),
per AS (
  SELECT l.event_type,
         SUM(CASE WHEN l.gt IN (0, 2) THEN 1 ELSE 0 END) obs,
         SUM(1.0 - 2.0 * k.p * (1.0 - k.p)) exp,
         COUNT(*) n
  FROM long l JOIN keep k ON l.user_id = k.user_id
  GROUP BY 1)
SELECT event_type,
       CASE WHEN (obs - exp) / (n - exp) <= 0.2 THEN TRUE
            WHEN (obs - exp) / (n - exp) >= 0.8 THEN FALSE
            ELSE NULL END AS is_female,
       ROUND((obs - exp) / (n - exp), 9) AS f_stat,
       CAST(n AS BIGINT) AS n_called
FROM per ORDER BY event_type
"""


def tdt_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TDT transmission counts (ref family_methods.py:377): fold over
    trio entries in codegen; compares t/u/χ² (the p-value finalizer is
    engine-only — DuckDB has no χ² CDF)."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.genetics import transmission_disequilibrium_test

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    ).withColumnRenamed("event_type", "s")
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GT"]
    )
    fam = spark.createDataFrame(
        [
            {"fam_id": "f1", "id": "click", "pat_id": "view", "mat_id": "purchase", "is_female": False},
            {"fam_id": "f2", "id": "error", "pat_id": "signup", "mat_id": "click", "is_female": True},
        ]
    )
    out = transmission_disequilibrium_test(mt, fam)
    return (
        out.filter(F.col("t") + F.col("u") > 0)
        .select("user_id", "t", "u", F.round("chi_sq", 9).alias("chi_sq"))
        .orderBy("user_id")
    )


_TDT_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
trio AS (SELECT 'click' kid, 'view' dad, 'purchase' mom
         UNION ALL SELECT 'error', 'signup', 'click'),
j AS (
  SELECT u.user_id, k.gt kgt, d.gt dgt, m.gt mgt
  FROM (SELECT DISTINCT user_id FROM long) u CROSS JOIN trio t
  LEFT JOIN long k ON k.user_id = u.user_id AND k.event_type = t.kid
  LEFT JOIN long d ON d.user_id = u.user_id AND d.event_type = t.dad
  LEFT JOIN long m ON m.user_id = u.user_id AND m.event_type = t.mom),
tu AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN dgt=1 AND mgt=1 AND kgt=1 THEN 1 WHEN dgt=1 AND mgt=1 AND kgt=2 THEN 2
             WHEN dgt=1 AND mgt=0 AND kgt=1 THEN 1 WHEN dgt=0 AND mgt=1 AND kgt=1 THEN 1
             WHEN dgt=1 AND mgt=2 AND kgt=2 THEN 1 WHEN dgt=2 AND mgt=1 AND kgt=2 THEN 1
             ELSE 0 END) AS INT) t,
    CAST(SUM(CASE WHEN dgt=1 AND mgt=1 AND kgt=0 THEN 2 WHEN dgt=1 AND mgt=1 AND kgt=1 THEN 1
             WHEN dgt=1 AND mgt=0 AND kgt=0 THEN 1 WHEN dgt=0 AND mgt=1 AND kgt=0 THEN 1
             WHEN dgt=1 AND mgt=2 AND kgt=1 THEN 1 WHEN dgt=2 AND mgt=1 AND kgt=1 THEN 1
             ELSE 0 END) AS INT) u
  FROM j GROUP BY user_id)
SELECT user_id, t, u,
       ROUND(CAST(t - u AS DOUBLE) * (t - u) / (t + u), 9) AS chi_sq
FROM tu WHERE t + u > 0 ORDER BY user_id
"""


def vds_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VDS to_dense_mt (ref vds/methods.py to_dense_mt): a sparse
    gVCF-shaped dataset synthesized from events — variant sites at
    user_ids with heavy activity, per-event-type reference blocks over
    100-wide user buckets — densified via the banded containment join
    and replayed in SQL by the oracle."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.vds import VariantDataset

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    types = sorted(r["event_type"] for r in long.select("event_type").distinct().collect())
    tmap = {t: i for i, t in enumerate(types)}
    n = len(types)
    tidx = F.create_map(*[x for kv in tmap.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])

    # variant_data: site per user with any n>=3 entry; GT = n%3, DP = n
    vlong = long.filter(F.col("n") >= 3).select(
        "user_id",
        tidx[F.col("event_type")].alias("__i"),
        F.struct(
            (F.col("n") % 3).cast("int").alias("GT"), F.col("n").cast("int").alias("DP")
        ).alias("__e"),
    )
    vg = vlong.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("__i", "__e"))).alias("__m")
    )
    vrows = vg.select(
        F.struct(F.lit("c").alias("contig"), F.col("user_id").cast("int").alias("position")).alias("locus"),
        F.transform(F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]).alias(ENTRIES),
    )
    cols = [{"s": t} for t in types]
    vd = MatrixTable(vrows, ("locus",), cols, ("s",))

    # reference_data: per event_type, a block over each 100-wide user
    # bucket it has ANY event in; END = bucket end, DP = bucket % 50 + 1
    blocks = (
        ev.select(tidx[F.col("event_type")].alias("__i"), (F.floor(F.col("user_id") / 100)).alias("b"))
        .distinct()
        .select(
            "__i",
            (F.col("b") * 100).cast("int").alias("start"),
            F.struct(
                (F.col("b") * 100 + 99).cast("int").alias("END"),
                (F.col("b") % 50 + 1).cast("int").alias("DP"),
            ).alias("__re"),
        )
    )
    rg = blocks.groupBy("start").agg(
        F.map_from_entries(F.collect_list(F.struct("__i", "__re"))).alias("__m")
    )
    rrows = rg.select(
        F.struct(F.lit("c").alias("contig"), F.col("start").alias("position")).alias("locus"),
        F.transform(F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]).alias(ENTRIES),
    )
    rd = MatrixTable(rrows, ("locus",), cols, ("s",))

    dense = VariantDataset(rd, vd).to_dense_mt()
    out = dense.entries().df
    return (
        out.filter(F.col("GT").isNotNull())
        .select(
            F.col("locus")["position"].alias("user_id"),
            F.col("s").alias("event_type"),
            "GT",
            "DP",
        )
        .orderBy("user_id", "event_type")
    )


_VDS_DENSIFY_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
vent AS (SELECT user_id, event_type, CAST(n % 3 AS INT) gt, CAST(n AS INT) dp
         FROM long WHERE n >= 3),
vsite AS (SELECT DISTINCT user_id FROM vent),
types AS (SELECT DISTINCT event_type FROM events),
blocks AS (SELECT DISTINCT event_type, CAST(FLOOR(user_id/100) AS BIGINT) b FROM events),
grid AS (SELECT v.user_id, t.event_type FROM vsite v CROSS JOIN types t),
dense AS (
  SELECT g.user_id, g.event_type,
         COALESCE(e.gt, CASE WHEN bl.b IS NOT NULL THEN 0 END) AS GT,
         COALESCE(e.dp, CASE WHEN bl.b IS NOT NULL THEN CAST(bl.b % 50 + 1 AS INT) END) AS DP
  FROM grid g
  LEFT JOIN vent e ON g.user_id = e.user_id AND g.event_type = e.event_type
  LEFT JOIN blocks bl ON g.event_type = bl.event_type AND CAST(FLOOR(g.user_id/100) AS BIGINT) = bl.b
)
SELECT CAST(user_id AS INT) AS user_id, event_type, GT, DP
FROM dense WHERE GT IS NOT NULL ORDER BY user_id, event_type
"""


def vds_ref_block_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VDS reference-block toolkit battery (ref vds/methods.py:
    truncate_reference_blocks / merge_reference_blocks /
    impute_sex_chromosome_ploidy): synthesize 100-bp reference blocks on
    three contigs (c1/X/Y by bucket), truncate to ≤40 bp (3 segments per
    block), impute sex-chromosome ploidy from length-weighted DP — which
    truncation must leave invariant — then merge the segments back
    (contiguous + equal DP) and check the block count round-trips."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.vds import VariantDataset

    ev = _t(spark, sf_dir, "events").df
    types = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    tmap = {t: i for i, t in enumerate(types)}
    n = len(types)
    tidx = F.create_map(
        *[x for kv in tmap.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    contig = F.element_at(
        F.array(F.lit("c1"), F.lit("X"), F.lit("Y")), (F.col("b") % 3 + 1).cast("int")
    )
    blocks = (
        ev.select(
            tidx[F.col("event_type")].alias("__i"),
            F.floor(F.col("user_id") / 100).alias("b"),
        )
        .distinct()
        .select(
            "__i",
            contig.alias("contig"),
            (F.col("b") * 100).cast("int").alias("start"),
            F.struct(
                (F.col("b") * 100 + 99).cast("int").alias("END"),
                (F.col("b") % 50 + 1).cast("int").alias("DP"),
            ).alias("__re"),
        )
    )
    rg = blocks.groupBy("contig", "start").agg(
        F.map_from_entries(F.collect_list(F.struct("__i", "__re"))).alias("__m")
    )
    rrows = rg.select(
        F.struct(F.col("contig"), F.col("start").alias("position")).alias("locus"),
        F.transform(F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]).alias(
            ENTRIES
        ),
    )
    cols = [{"s": t} for t in types]
    rd = MatrixTable(rrows, ("locus",), cols, ("s",))
    empty_vd = MatrixTable(rrows.limit(0), ("locus",), cols, ("s",))
    vds = VariantDataset(rd, empty_vd)
    vt = vds.truncate_reference_blocks(40)
    ploidy = vt.impute_sex_chromosome_ploidy("c1", "X", "Y")
    vm = vt.merge_reference_blocks(["DP"])
    smap = F.array(*[F.lit(t) for t in types])

    def _counts(mt, name):
        return (
            mt._df.select(F.posexplode(ENTRIES).alias("__s", "__re"))
            .filter(F.col("__re").isNotNull())
            .groupBy("__s")
            .agg(F.count(F.lit(1)).alias(name))
            .select(F.element_at(smap, F.col("__s") + 1).alias("s"), name)
        )

    out = (
        ploidy.join(_counts(vt.reference_data, "n_blocks_trunc"), "s")
        .join(_counts(vm.reference_data, "n_blocks_merged"), "s")
        .select(
            "s",
            F.round("autosomal_mean_dp", 6).alias("autosomal_mean_dp"),
            F.round("x_mean_dp", 6).alias("x_mean_dp"),
            F.round("x_ploidy", 6).alias("x_ploidy"),
            F.round("y_mean_dp", 6).alias("y_mean_dp"),
            F.round("y_ploidy", 6).alias("y_ploidy"),
            "n_blocks_trunc",
            "n_blocks_merged",
        )
        .orderBy("s")
    )
    return out


_VDS_REF_BLOCK_SQL = """
WITH blocks AS (SELECT DISTINCT event_type, CAST(FLOOR(user_id/100) AS BIGINT) b
                FROM events),
agg AS (SELECT event_type,
        COUNT(*) AS n_blocks,
        SUM(CASE WHEN b % 3 = 0 THEN (b % 50 + 1) * 100 END)::DOUBLE
          / SUM(CASE WHEN b % 3 = 0 THEN 100 END) AS auto_dp,
        SUM(CASE WHEN b % 3 = 1 THEN (b % 50 + 1) * 100 END)::DOUBLE
          / SUM(CASE WHEN b % 3 = 1 THEN 100 END) AS x_dp,
        SUM(CASE WHEN b % 3 = 2 THEN (b % 50 + 1) * 100 END)::DOUBLE
          / SUM(CASE WHEN b % 3 = 2 THEN 100 END) AS y_dp
        FROM blocks GROUP BY 1)
SELECT event_type AS s,
       ROUND(auto_dp, 6) AS autosomal_mean_dp,
       ROUND(x_dp, 6) AS x_mean_dp,
       ROUND(2 * x_dp / auto_dp, 6) AS x_ploidy,
       ROUND(y_dp, 6) AS y_mean_dp,
       ROUND(2 * y_dp / auto_dp, 6) AS y_ploidy,
       3 * n_blocks AS n_blocks_trunc,
       n_blocks AS n_blocks_merged
FROM agg ORDER BY s
"""


_INBREEDING_SQL = """
WITH calls AS (
  SELECT event_type,
         CAST(user_id % 3 AS INT) AS gt,
         (event_id % 1000) / 2000.0 + 0.25 AS af
  FROM events
)
SELECT event_type,
       ROUND((SUM(CASE WHEN gt IN (0,2) THEN 1 ELSE 0 END) - SUM(1 - 2*af*(1-af)))
             / NULLIF(COUNT(*) - SUM(1 - 2*af*(1-af)), 0), 9) AS f_stat,
       COUNT(*) AS n_called,
       ROUND(SUM(1 - 2*af*(1-af)), 6) AS expected_homs,
       CAST(SUM(CASE WHEN gt IN (0,2) THEN 1 ELSE 0 END) AS BIGINT) AS observed_homs
FROM calls GROUP BY event_type ORDER BY event_type
"""


def scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function battery: math, floor-div/mod, case builder,
    strings/regex, bit ops, try-parse (§2.9 tables)."""
    p = _t(spark, sf_dir, "part", ("p_partkey",))
    out = p.select(
        pk_mod5=hf.mod(F.col("p_partkey"), 5),
        pk_fdiv7=hf.floordiv(F.col("p_partkey"), 7),
        size_bucket=hf.case()
        .when(F.col("p_size") < 10, F.lit("S"))
        .when(F.col("p_size") < 25, F.lit("M"))
        .default(F.lit("L")),
        logp=F.round(hf.log(F.col("p_retailprice")), 6),
        sqrtp=F.round(hf.sqrt(F.col("p_retailprice")), 6),
        powp=F.round(hf.pow(F.col("p_size"), 2.0), 6),
        n_words=hf.len_(hf.str_split(F.col("p_name"), " ")),
        first_word=hf.head_(hf.str_split(F.col("p_name"), " ")),
        brand_low=hf.lower(F.col("p_brand")),
        type_rev=hf.reverse(F.col("p_type")),
        bits_and=hf.bit_and(F.col("p_partkey"), 255),
        bits_xor=hf.bit_xor(F.col("p_partkey"), 21),
        parse_fail=hf.parse_int32(F.col("p_brand")),
        sgn=hf.sign(F.col("p_size") - 25).cast("int"),
        absdiff=hf.abs(F.col("p_size") - 25),
    )
    return out.df


_SCALAR_SQL = """
SELECT p_partkey,
  p_partkey % 5 AS pk_mod5,
  CAST(floor(p_partkey / 7.0) AS BIGINT) AS pk_fdiv7,
  CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 25 THEN 'M' ELSE 'L' END AS size_bucket,
  round(ln(p_retailprice), 6) AS logp,
  round(sqrt(p_retailprice), 6) AS sqrtp,
  round(pow(p_size, 2.0), 6) AS powp,
  len(string_split(p_name, ' ')) AS n_words,
  string_split(p_name, ' ')[1] AS first_word,
  lower(p_brand) AS brand_low,
  reverse(p_type) AS type_rev,
  p_partkey & 255 AS bits_and,
  xor(p_partkey, 21) AS bits_xor,
  TRY_CAST(p_brand AS INT) AS parse_fail,
  CAST(CASE WHEN p_size - 25 > 0 THEN 1 WHEN p_size - 25 < 0 THEN -1 ELSE 0 END AS INT) AS sgn,
  abs(p_size - 25) AS absdiff
FROM part ORDER BY p_partkey
"""


def collection_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection HOF battery over per-key arrays: sort/slice/element/
    filter/exists/distinct (§2.9 collections)."""
    o = _t(spark, sf_dir, "orders", ("o_custkey",))
    arrs = o.group_by("o_custkey").aggregate(
        prices=F.sort_array(F.collect_list("o_totalprice"))
    )
    out = arrs.annotate(
        n=F.size("prices"),
        lo=hf.head_(F.col("prices")),
        hi=hf.last_(F.col("prices")),
        top3=F.reverse(F.slice(F.reverse("prices"), 1, 3)),
        n_over=F.size(F.filter(F.col("prices"), lambda x: x > 150000.0)),
        any_over=F.exists(F.col("prices"), lambda x: x > 300000.0),
        n_distinct=F.size(F.array_distinct("prices")),
    ).order_by("o_custkey")
    out = out.annotate(
        prices=_arr_str(F.col("prices")), top3=_arr_str(F.col("top3"))
    )
    return out.df


_COLLECTION_SQL = """
WITH arrs AS (
  SELECT o_custkey, list(o_totalprice ORDER BY o_totalprice) AS prices
  FROM orders GROUP BY o_custkey)
SELECT o_custkey,
  array_to_string(list_transform(prices, x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS prices,
  len(prices) AS n,
  prices[1] AS lo,
  prices[-1] AS hi,
  array_to_string(list_transform(prices[-3:], x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS top3,
  len(list_filter(prices, x -> x > 150000.0)) AS n_over,
  len(list_filter(prices, x -> x > 300000.0)) > 0 AS any_over,
  len(list_distinct(prices)) AS n_distinct
FROM arrs ORDER BY o_custkey
"""


def multiway_zip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableMultiWayZipJoin (table_ir.py:824): 3 same-schema keyed
    tables zipped by key into an aligned array; one shuffle total."""
    from hail_spark.operators.multiway import multi_way_zip_join

    o = _t(spark, sf_dir, "orders", ("o_orderkey",))
    t1 = o.filter(F.col("o_totalprice") > 200000).select(price=F.col("o_totalprice"))
    t2 = o.filter(
        (F.col("o_totalprice") > 100000) & (F.col("o_totalprice") <= 200000)
    ).select(price=F.col("o_totalprice"))
    t3 = o.filter(F.col("o_totalprice") <= 100000).select(price=F.col("o_totalprice"))
    z = multi_way_zip_join([t1, t2, t3], "data")
    out = z.annotate(
        hi=F.col("data")[0]["price"],
        mid=F.col("data")[1]["price"],
        lo=F.col("data")[2]["price"],
    ).drop("data")
    return out.order_by("o_orderkey").df


_MULTIWAY_SQL = """
WITH t1 AS (SELECT o_orderkey, o_totalprice p FROM orders WHERE o_totalprice > 200000),
     t2 AS (SELECT o_orderkey, o_totalprice p FROM orders WHERE o_totalprice > 100000 AND o_totalprice <= 200000),
     t3 AS (SELECT o_orderkey, o_totalprice p FROM orders WHERE o_totalprice <= 100000)
SELECT COALESCE(t1.o_orderkey, t2.o_orderkey, t3.o_orderkey) AS o_orderkey,
       t1.p AS hi, t2.p AS mid, t3.p AS lo
FROM t1 FULL OUTER JOIN t2 ON t1.o_orderkey = t2.o_orderkey
        FULL OUTER JOIN t3 ON COALESCE(t1.o_orderkey, t2.o_orderkey) = t3.o_orderkey
ORDER BY o_orderkey
"""


def outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableJoin how='outer' (table_ir.py:37, KeyedRVD.scala:44):
    per-nation customer vs supplier counts, key coalesced."""
    c = (
        _t(spark, sf_dir, "customer", ("c_nationkey",))
        .group_by("c_nationkey")
        .aggregate(n_cust=F.count(F.lit(1)))
        .rename({"c_nationkey": "nk"})
        .key_by("nk")
    )
    s = (
        _t(spark, sf_dir, "supplier", ("s_nationkey",))
        .group_by("s_nationkey")
        .aggregate(n_supp=F.count(F.lit(1)))
        .rename({"s_nationkey": "nk"})
        .key_by("nk")
    )
    return c.join(s, how="outer").order_by("nk").df


_OUTER_JOIN_SQL = """
WITH c AS (SELECT c_nationkey nk, count(*) n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey nk, count(*) n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(c.nk, s.nk) AS nk, c.n_cust, s.n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nk
"""


def corr_regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.corr (aggregators.py:1877) + linreg-style slope/intercept
    aggregates per group; rounded for float-order independence."""
    t = _t(spark, sf_dir, "lineitem")
    out = t.group_by("l_returnflag").aggregate(
        corr_qp=F.round(F.corr("l_quantity", "l_extendedprice"), 6),
        slope=F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4),
        intercept=F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4),
        n=F.count(F.lit(1)),
    )
    return out.order_by("l_returnflag").df


_CORR_SQL = """
SELECT l_returnflag,
  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
  count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def product_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.product (aggregators.py:1059) = exp(sum(ln)) for positive
    inputs (§2.4 mapping); per-flag product of (1+discount) growth."""
    t = _t(spark, sf_dir, "lineitem")
    out = t.group_by("l_returnflag").aggregate(
        log_product=F.round(F.sum(F.log(F.col("l_discount") + 1.0)), 6),
        product_head=F.round(
            F.exp(F.sum(F.when(F.col("l_orderkey") % 1000 == 0, F.log(F.col("l_discount") + 1.0)))),
            6,
        ),
    )
    return out.order_by("l_returnflag").df


_PRODUCT_SQL = """
SELECT l_returnflag,
  round(sum(ln(l_discount + 1.0)), 6) AS log_product,
  round(product(CASE WHEN l_orderkey % 1000 = 0 THEN l_discount + 1.0 END), 6) AS product_head
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def bit_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit functions (functions.py:6890-7085 → &,|,^,shifts,bit_count)."""
    from hail_spark.expr import functions as hf

    t = _t(spark, sf_dir, "lineitem", ("l_orderkey", "l_linenumber"))
    a, b = F.col("l_orderkey"), F.col("l_partkey")
    out = t.select(
        "l_partkey",
        band=hf.bit_and(a, b),
        bor=hf.bit_or(a, b),
        bxor=hf.bit_xor(a, b),
        lsh=hf.bit_lshift(F.col("l_linenumber").cast("bigint"), 3),
        rsh=hf.bit_rshift(a, 2),
        bnot=hf.bit_not(b),
        bcount=hf.bit_count(a),
    )
    return out.order_by("l_orderkey", "l_linenumber").df


_BIT_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey,
  l_orderkey & l_partkey AS band,
  l_orderkey | l_partkey AS bor,
  xor(l_orderkey, l_partkey) AS bxor,
  CAST(l_linenumber AS BIGINT) << 3 AS lsh,
  l_orderkey >> 2 AS rsh,
  ~l_partkey AS bnot,
  bit_count(l_orderkey) AS bcount
FROM lineitem ORDER BY l_orderkey, l_linenumber
"""


def parse_cast_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.parse_int/float (missing on failure, functions.py:5852-6254 →
    try_cast) + str conversions, over documents."""
    t = _t(spark, sf_dir, "documents", ("doc_id",))
    out = t.select(
        p_int=F.col("lang").try_cast("int"),  # fails → NULL
        p_chars=F.col("n_chars").cast("string").try_cast("bigint"),
        p_float=F.concat(F.col("n_chars").cast("string"), F.lit(".5")).try_cast("double"),
        p_bool=F.when(F.col("n_chars") % 2 == 0, F.lit("true")).otherwise(F.lit("x")).try_cast("boolean"),
        first_word_len=F.length(F.split(F.col("text"), " ")[0]),
    )
    return out.order_by("doc_id").df


_PARSE_SQL = """
SELECT doc_id,
  TRY_CAST(lang AS INT) AS p_int,
  TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS p_chars,
  TRY_CAST(CAST(n_chars AS VARCHAR) || '.5' AS DOUBLE) AS p_float,
  TRY_CAST(CASE WHEN n_chars % 2 = 0 THEN 'true' ELSE 'x' END AS BOOLEAN) AS p_bool,
  length(str_split(text, ' ')[1]) AS first_word_len
FROM documents ORDER BY doc_id
"""


def set_ops_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union/intersection/difference (typed_expressions.py:1263/1204/
    1173 → array_* on sorted-distinct arrays): supplier sets per part
    across year halves."""
    t = _t(spark, sf_dir, "lineitem")
    h1 = (
        t.filter(F.month("l_shipdate") <= 6)
        .group_by("l_partkey")
        .aggregate(s1=F.array_sort(F.collect_set("l_suppkey")))
    )
    h2 = (
        t.filter(F.month("l_shipdate") > 6)
        .group_by("l_partkey")
        .aggregate(s2=F.array_sort(F.collect_set("l_suppkey")))
    )
    j = h1.key_by("l_partkey").join(h2.key_by("l_partkey"), how="inner")
    out = j.select(
        n_union=F.size(F.array_union("s1", "s2")),
        n_inter=F.size(F.array_intersect("s1", "s2")),
        n_only_h1=F.size(F.array_except("s1", "s2")),
        subset=F.size(F.array_except("s1", "s2")) == 0,
    )
    return out.order_by("l_partkey").df


_SET_OPS_SQL = """
WITH h1 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE month(l_shipdate) <= 6),
     h2 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE month(l_shipdate) > 6),
     keys AS (SELECT DISTINCT a.l_partkey FROM h1 a JOIN h2 b ON a.l_partkey = b.l_partkey)
SELECT k.l_partkey,
  (SELECT count(DISTINCT s) FROM (SELECT l_suppkey s FROM h1 WHERE l_partkey = k.l_partkey
                                  UNION SELECT l_suppkey FROM h2 WHERE l_partkey = k.l_partkey)) AS n_union,
  (SELECT count(*) FROM h1 a JOIN h2 b ON a.l_suppkey = b.l_suppkey AND b.l_partkey = k.l_partkey
   WHERE a.l_partkey = k.l_partkey) AS n_inter,
  (SELECT count(*) FROM h1 a WHERE a.l_partkey = k.l_partkey AND a.l_suppkey NOT IN
     (SELECT l_suppkey FROM h2 WHERE l_partkey = k.l_partkey)) AS n_only_h1,
  (SELECT count(*) FROM h1 a WHERE a.l_partkey = k.l_partkey AND a.l_suppkey NOT IN
     (SELECT l_suppkey FROM h2 WHERE l_partkey = k.l_partkey)) = 0 AS subset
FROM keys k ORDER BY l_partkey
"""


def bm_matmul_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockMatrix.dot (BlockMatrix.scala:950): C = A @ B on aggregated
    lineitem projections; long-form nonzeros, exact integer sums."""
    from hail_spark.linalg import BlockMatrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a_long = (
        li.groupBy((F.col("l_suppkey") % 30).alias("i"), (F.col("l_partkey") % 20).alias("j"))
        .agg(F.sum("l_quantity").alias("v"))
    )
    b_long = (
        li.groupBy((F.col("l_partkey") % 20).alias("i"), (F.col("l_suppkey") % 25).alias("j"))
        .agg(F.sum(F.col("l_linenumber").cast("double")).alias("v"))
    )
    A = BlockMatrix.from_long(a_long, 30, 20, block_size=8)
    B = BlockMatrix.from_long(b_long, 20, 25, block_size=8)
    C = A.matmul(B)
    return (
        C.to_long()
        .filter(F.col("v") != 0.0)
        .select("i", "j", F.round("v", 3).alias("v"))
        .orderBy("i", "j")
    )


_BM_MATMUL_SQL = """
WITH a AS (SELECT l_suppkey % 30 AS i, l_partkey % 20 AS k, sum(l_quantity) AS v
           FROM lineitem GROUP BY 1, 2),
     b AS (SELECT l_partkey % 20 AS k, l_suppkey % 25 AS j, sum(CAST(l_linenumber AS DOUBLE)) AS v
           FROM lineitem GROUP BY 1, 2)
SELECT a.i, b.j, round(sum(a.v * b.v), 3) AS v
FROM a JOIN b ON a.k = b.k
GROUP BY a.i, b.j HAVING sum(a.v * b.v) <> 0 ORDER BY i, j
"""


def hwe_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.hardy_weinberg_test (aggregators.py:1128): genotype counts
    aggregated distributively, exact Wigginton p-value as finalizer.
    The oracle replays the Levene–Haldane distribution in closed form
    (lgamma) in DuckDB."""
    from hail_spark.expr.stats import hardy_weinberg_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = (
        ev.select("event_type", (F.col("event_id") % 3).alias("gt"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("gt") == 0, 1).otherwise(0)).alias("n_hom_ref"),
            F.sum(F.when(F.col("gt") == 1, 1).otherwise(0)).alias("n_het"),
            F.sum(F.when(F.col("gt") == 2, 1).otherwise(0)).alias("n_hom_var"),
        )
        .orderBy("event_type")
        .collect()
    )
    rows = []
    for r in counts:
        res = hardy_weinberg_test(r["n_hom_ref"], r["n_het"], r["n_hom_var"])
        rows.append(
            {
                "event_type": r["event_type"],
                "n_het": r["n_het"],
                "het_freq_hwe": round(res["het_freq_hwe"], 6),
                "p_value": round(res["p_value"], 6),
            }
        )
    return spark.createDataFrame(rows)


# Wigginton exact HWE replayed in closed form: P(h het | n, rare) from the
# Levene–Haldane distribution via lgamma, p-value = sum of mass points no
# more likely than the observed one (1 + 1e-9 tolerance, as in stats.py).
_HWE_SQL = """
WITH counts AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS het,
         CAST(SUM(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hv
  FROM events GROUP BY event_type),
base AS (
  SELECT event_type, hr, het, hv, hr + het + hv AS n,
         2 * least(hr, hv) + het AS rare
  FROM counts),
grid AS (
  SELECT event_type, het, n, rare, unnest(range(0, rare + 1)) AS h
  FROM base),
probs AS (
  SELECT event_type, het, n, rare, h,
         exp(lgamma(n + 1.0) - lgamma((rare - h) / 2 + 1.0) - lgamma(h + 1.0)
             - lgamma(n - h - (rare - h) / 2 + 1.0)
             + lgamma(rare + 1.0) + lgamma(2.0 * n - rare + 1.0)
             - lgamma(2.0 * n + 1.0) + h * ln(2.0)) AS p
  FROM grid WHERE (h % 2) = (rare % 2)),
obs AS (SELECT event_type, p AS p_obs FROM probs WHERE h = het),
aggd AS (
  SELECT p.event_type,
         any_value(p.het) AS n_het,
         SUM(p.h * p.p) / any_value(p.n) AS het_freq,
         -- exact MID-p like the reference (LeveneHaldane.exactMidP):
         -- strictly-smaller bins in full, observed-probability bins half
         SUM(CASE WHEN p.p < o.p_obs * (1 - 1e-9) THEN p.p
                  WHEN abs(p.p - o.p_obs) <= o.p_obs * 1e-9 THEN 0.5 * p.p
                  ELSE 0 END) AS pv
  FROM probs p JOIN obs o USING (event_type)
  GROUP BY p.event_type)
SELECT event_type, n_het, round(het_freq, 6) AS het_freq_hwe,
       round(least(1.0, pv), 6) AS p_value
FROM aggd ORDER BY event_type
"""


def query_table_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.query_table (functions.py:7245): indexed point+range reads
    from the native format WITHOUT a Spark job — pyarrow row-group
    min/max pruning plays the role of the reference's key b-tree
    (io/index/IndexReader.scala)."""
    import hashlib

    from hail_spark.io.query_table import query_table
    from hail_spark.table import Table

    cache = _stage("qt", sf_dir)
    import os

    if not os.path.exists(os.path.join(cache, "_hail_spark_metadata.json")):
        Table.from_spark(
            spark.read.parquet(f"{sf_dir}/orders.parquet"), key=("o_orderkey",)
        ).write(cache, overwrite=True)
    rows = query_table(cache, interval=(100, 160))
    out = spark.createDataFrame(
        [
            {
                "o_orderkey": r["o_orderkey"],
                "o_custkey": r["o_custkey"],
                "o_totalprice": round(r["o_totalprice"], 2),
            }
            for r in rows
        ],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    return out.orderBy("o_orderkey")


_QUERY_TABLE_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey BETWEEN 100 AND 160 ORDER BY o_orderkey
"""


def query_mt_rows_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.query_matrix_table_rows (functions.py:7295): indexed interval
    read into a written MatrixTable without a Spark job — row-group
    pruned pyarrow read of the rows+entries layout, cols resolved from
    the matrix metadata sidecar. The driver-side result is re-exploded
    to long form so the oracle can replay it from the raw events."""
    import hashlib
    import os

    from hail_spark.io.query_table import matrix_table_cols, query_matrix_table_rows

    cache = _stage("qmt", sf_dir)
    if not os.path.exists(os.path.join(cache, "_matrix_metadata.json")):
        _events_mt(spark, sf_dir).write(cache, overwrite=True)
    rows = query_matrix_table_rows(cache, interval=(10, 60), entries_name="ent")
    cols = matrix_table_cols(cache)
    long = []
    for r in rows:
        for c, e in zip(cols, r["ent"]):
            if e is None or e["n"] is None:
                continue
            long.append(
                {
                    "user_id": r["user_id"],
                    "event_type": c["event_type"],
                    "v": round(float(e["v"]), 6),
                    "n": e["n"],
                }
            )
    out = spark.createDataFrame(
        long, "user_id bigint, event_type string, v double, n bigint"
    )
    return out.orderBy("user_id", "event_type")


_QUERY_MT_SQL = """
SELECT user_id, event_type,
       round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS v,
       COUNT(*) AS n
FROM events WHERE user_id BETWEEN 10 AND 60
GROUP BY user_id, event_type ORDER BY user_id, event_type
"""


def info_score_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPUTE info-score aggregator (expr/functions.py info_score; ref
    aggregators.py:1568) over deterministic pseudo-genotype-probability
    triples derived from orders keys — the oracle recomputes the same
    closed-form sums scalar-wise."""
    from hail_spark.expr.functions import info_score

    orders = _t(spark, sf_dir, "orders").df
    g = orders.select(
        (F.col("o_orderkey") % 7).cast("int").alias("b"),
        ((F.col("o_orderkey") % 97) / 97.0).alias("u"),
    )
    ent = g.groupBy("b").agg(
        F.collect_list(
            F.struct(
                F.array(
                    F.col("u"), (1 - F.col("u")) * 0.6, (1 - F.col("u")) * 0.4
                ).alias("GP")
            )
        ).alias("es")
    )
    res = ent.select("b", info_score(F.col("es")).alias("i"))
    return res.select(
        "b",
        F.round(F.col("i")["score"], 6).alias("info"),
        F.col("i")["n_included"].alias("n_included"),
    ).orderBy("b")


_INFO_SCORE_SQL = """
WITH g AS (
  SELECT CAST(o_orderkey % 7 AS INT) AS b, (o_orderkey % 97) / 97.0 AS u
  FROM orders
), s AS (
  SELECT b, COUNT(*) AS n,
         SUM(1.4 * (1 - u)) AS se,
         SUM(2.2 * (1 - u) - (1.4 * (1 - u)) * (1.4 * (1 - u))) AS sfe
  FROM g GROUP BY b
)
SELECT b,
       ROUND(CASE WHEN n > 0 AND se / (2 * n) > 0 AND se / (2 * n) < 1
                  THEN 1 - sfe / (2 * n * (se / (2 * n)) * (1 - se / (2 * n)))
                  ELSE 1.0 END, 6) AS info,
       CAST(n AS INT) AS n_included
FROM s ORDER BY b
"""


_CHAIN_BLOCKS = [
    # (src_contig, src_start, src_end, dst_contig, dst_pos, strand)
    ("c1", 0, 4000, "d1", 10000, 1),
    ("c1", 4500, 9000, "d1", 20000, 1),
    ("c2", 0, 5000, "d2", 8000, -1),
]


def liftover_loci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-file liftover as a broadcast range join (expr/genome.py
    liftover; ref functions.py:6498 hl.liftover) over pseudo-loci
    derived from orders keys; the chain is a fixed literal block list so
    the DuckDB oracle can replay it as a VALUES CTE."""
    from hail_spark.expr.genome import chain_to_df, liftover

    orders = _t(spark, sf_dir, "orders").df
    loci = orders.select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("c"), (F.col("o_orderkey") % 3 + 1).cast("string")).alias(
            "contig"
        ),
        (F.col("o_orderkey") % 9500 + 1).cast("int").alias("position"),
    )
    out = liftover(loci, chain_to_df(spark, _CHAIN_BLOCKS))
    return out.select(
        "k", "contig", "position", "target_contig", "target_position",
        "target_strand",
    ).orderBy("k")


_LIFTOVER_SQL = """
WITH chain(src_contig, src_start, src_end, dst_contig, dst_pos, strand) AS (
  VALUES ('c1', 0, 4000, 'd1', 10000, 1),
         ('c1', 4500, 9000, 'd1', 20000, 1),
         ('c2', 0, 5000, 'd2', 8000, -1)
), loci AS (
  SELECT o_orderkey AS k,
         'c' || CAST(o_orderkey % 3 + 1 AS VARCHAR) AS contig,
         CAST(o_orderkey % 9500 + 1 AS INT) AS position
  FROM orders
)
SELECT k, contig, position,
       dst_contig AS target_contig,
       CAST(CASE WHEN strand = 1 THEN dst_pos + (position - 1 - src_start)
                 ELSE dst_pos + (src_end - 1 - (position - 1)) END + 1 AS INT)
         AS target_position,
       strand AS target_strand
FROM loci LEFT JOIN chain
  ON contig = src_contig AND position - 1 >= src_start AND position - 1 < src_end
ORDER BY k
"""


def linreg_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linear_regression_rows (ref statgen.py:235): per-variant OLS of a
    per-sample phenotype on mean-imputed genotype, intercept-only
    covariates. Engine side is the QR-projected Arrow-batched kernel;
    the oracle replays the closed-form sufficient statistics (missing
    entries mean-imputed ⇒ contribute zero to Sxx/Sxy)."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.statgen import linear_regression_rows

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 5).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    y = [float(i) for i in range(len(mt._cols))]  # phenotype = col rank
    out = linear_regression_rows(mt, y)
    return (
        out.filter(
            ~F.isnan("t_stat")
            & F.col("t_stat").isNotNull()
            # drop perfect-fit rows: a residual that is exactly 0 in the
            # oracle can land at ~1e-15 here, so gate well above float
            # noise (next-smallest se in the fixture is ~0.119)
            & (F.col("standard_error") > 1e-4)
        )
        .select(
            "user_id",
            "n",
            F.round("sum_x", 6).alias("sum_x"),
            F.round("beta", 6).alias("beta"),
            F.round("standard_error", 6).alias("standard_error"),
            F.round("t_stat", 6).alias("t_stat"),
        )
        .orderBy("user_id")
    )


_LINREG_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 5 AS INT) gt
              FROM events GROUP BY 1, 2),
types AS (SELECT event_type, DENSE_RANK() OVER (ORDER BY event_type) - 1 AS y
          FROM (SELECT DISTINCT event_type FROM long)),
nn AS (SELECT COUNT(*) nt, (COUNT(*) - 1) / 2.0 ybar,
              COUNT(*) * (COUNT(*) * COUNT(*) - 1) / 12.0 syy
       FROM types),
pres AS (SELECT l.user_id, CAST(l.gt AS DOUBLE) gt, CAST(t.y AS DOUBLE) y
         FROM long l JOIN types t USING (event_type)),
mu AS (SELECT user_id, AVG(gt) mu FROM pres GROUP BY user_id),
s AS (SELECT p.user_id,
             SUM((p.gt - m.mu) * (p.gt - m.mu)) sxx,
             SUM((p.gt - m.mu) * (p.y - (SELECT ybar FROM nn))) sxy
      FROM pres p JOIN mu m USING (user_id) GROUP BY p.user_id)
SELECT s.user_id,
       CAST((SELECT nt FROM nn) AS INT) AS n,
       ROUND(m.mu * (SELECT nt FROM nn), 6) AS sum_x,
       ROUND(sxy / sxx, 6) AS beta,
       ROUND(SQRT(((SELECT syy FROM nn) - (sxy / sxx) * sxy)
                  / ((SELECT nt FROM nn) - 2) / sxx), 6) AS standard_error,
       ROUND((sxy / sxx) / SQRT(((SELECT syy FROM nn) - (sxy / sxx) * sxy)
                  / ((SELECT nt FROM nn) - 2) / sxx), 6) AS t_stat
FROM s JOIN mu m USING (user_id)
WHERE sxx > 1e-6
  AND (SELECT syy FROM nn) - (sxy / sxx) * sxy > 1e-9
ORDER BY user_id
"""


def _score_mt(spark: SparkSession, sf_dir: str):
    """Shared events-derived call matrix for the score-test queries."""
    from hail_spark.matrixtable import MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 5).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    # gate constant-genotype rows on a quantity both engines can
    # recompute exactly (mean-imputed Sxx = present-entry Sxx)
    gate = long.groupBy("user_id").agg(
        (
            F.sum(F.col("GT").cast("double") * F.col("GT"))
            - F.count(F.lit(1)) * F.pow(F.avg("GT"), 2)
        ).alias("__sxx")
    )
    return mt, gate


def logreg_score_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logistic_regression_rows(test='score') (ref statgen.py:1136):
    with intercept-only covariates the null MLE is mu0 = ybar exactly,
    so the per-variant Rao score statistic collapses to the closed form
    Sxy² / (ybar(1-ybar)·Sxx) the oracle replays — no per-variant
    iteration on either side."""
    from hail_spark.methods.statgen import logistic_regression_rows

    mt, gate = _score_mt(spark, sf_dir)
    y = [float(i % 2) for i in range(len(mt._cols))]
    out = logistic_regression_rows(mt, "score", y)
    return (
        out.join(gate, "user_id")
        .filter(F.col("fit_converged") & (F.col("__sxx") > 1e-6))
        .select("user_id", F.round("chi_sq_stat", 5).alias("chi_sq_stat"))
        .orderBy("user_id")
    )


_SCORE_CTES = """
long AS (SELECT user_id, event_type, CAST(COUNT(*) % 5 AS INT) gt
         FROM events GROUP BY 1, 2),
types AS (SELECT event_type, DENSE_RANK() OVER (ORDER BY event_type) - 1 AS r
          FROM (SELECT DISTINCT event_type FROM long)),
pres AS (SELECT l.user_id, CAST(l.gt AS DOUBLE) gt, t.r
         FROM long l JOIN types t USING (event_type)),
mu AS (SELECT user_id, AVG(gt) mu FROM pres GROUP BY user_id)
"""


_LOGREG_SCORE_SQL = (
    "WITH " + _SCORE_CTES + """,
nn AS (SELECT AVG(CAST(r % 2 AS DOUBLE)) ybar FROM types),
s AS (SELECT p.user_id,
             SUM((p.gt - m.mu) * (p.gt - m.mu)) sxx,
             SUM((p.gt - m.mu) * (CAST(p.r % 2 AS DOUBLE) - (SELECT ybar FROM nn))) sxy
      FROM pres p JOIN mu m USING (user_id) GROUP BY p.user_id)
SELECT user_id,
       ROUND(sxy * sxy / ((SELECT ybar * (1 - ybar) FROM nn) * sxx), 5) AS chi_sq_stat
FROM s WHERE sxx > 1e-6 ORDER BY user_id
"""
)


def poisreg_score_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """poisson_regression_rows(test='score') (ref statgen.py:1650):
    intercept-only null MLE is mu0 = ybar, so the statistic is
    Sxy² / (ybar·Sxx) — same closed-form replay shape as logistic."""
    from hail_spark.methods.statgen import poisson_regression_rows

    mt, gate = _score_mt(spark, sf_dir)
    y = [float(i) for i in range(len(mt._cols))]
    out = poisson_regression_rows(mt, "score", y)
    return (
        out.join(gate, "user_id")
        .filter(F.col("fit_converged") & (F.col("__sxx") > 1e-6))
        .select("user_id", F.round("chi_sq_stat", 5).alias("chi_sq_stat"))
        .orderBy("user_id")
    )


_POISREG_SCORE_SQL = (
    "WITH " + _SCORE_CTES + """,
nn AS (SELECT AVG(CAST(r AS DOUBLE)) ybar FROM types),
s AS (SELECT p.user_id,
             SUM((p.gt - m.mu) * (p.gt - m.mu)) sxx,
             SUM((p.gt - m.mu) * (CAST(p.r AS DOUBLE) - (SELECT ybar FROM nn))) sxy
      FROM pres p JOIN mu m USING (user_id) GROUP BY p.user_id)
SELECT user_id,
       ROUND(sxy * sxy / ((SELECT ybar FROM nn) * sxx), 5) AS chi_sq_stat
FROM s WHERE sxx > 1e-6 ORDER BY user_id
"""
)


def skat_q_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linear_skat (ref statgen.py:1986): with intercept-only
    covariates the null residual is y - ybar and the variance-component
    statistic collapses to Q = Σ_j Sxy_j² / (2σ²) per variant group —
    closed form the oracle replays (p-values need the Davies inversion,
    so the oracle pins Q and the group size)."""
    from hail_spark.methods.statgen import linear_skat

    mt, gate = _score_mt(spark, sf_dir)
    mt = mt.annotate_rows(grp=(F.col("user_id") % 20).cast("bigint"))
    y = [float(i) for i in range(len(mt._cols))]
    out = linear_skat(mt, "grp", y)
    return out.select(
        "group", "size", F.round("q_stat", 6).alias("q_stat")
    ).orderBy("group")


_SKAT_SQL = (
    "WITH " + _SCORE_CTES + """,
nn AS (SELECT COUNT(*) nt, (COUNT(*) - 1) / 2.0 ybar,
              COUNT(*) * (COUNT(*) + 1) / 12.0 sigma2 FROM types),
s AS (SELECT p.user_id,
             SUM((p.gt - m.mu) * (CAST(p.r AS DOUBLE) - (SELECT ybar FROM nn))) sxy
      FROM pres p JOIN mu m USING (user_id) GROUP BY p.user_id)
SELECT user_id % 20 AS "group",
       CAST(COUNT(*) AS INT) AS size,
       ROUND(SUM(sxy * sxy) / (2 * (SELECT sigma2 FROM nn)), 6) AS q_stat
FROM s GROUP BY 1 ORDER BY 1
"""
)


def logistic_skat_q_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logistic_skat (ref statgen.py:2440): intercept-only null gives
    mu0 = ybar, so Q = Σ_j Sxy_j² / 2 per group — closed form for the
    oracle, same shape as the linear SKAT row but with the binomial
    residual."""
    from hail_spark.methods.statgen import logistic_skat

    mt, _ = _score_mt(spark, sf_dir)
    mt = mt.annotate_rows(grp=(F.col("user_id") % 20).cast("bigint"))
    y = [float(i % 2) for i in range(len(mt._cols))]
    out = logistic_skat(mt, "grp", y)
    return out.select(
        "group", "size", F.round("q_stat", 4).alias("q_stat")
    ).orderBy("group")


_LOGISTIC_SKAT_SQL = (
    "WITH " + _SCORE_CTES + """,
nn AS (SELECT AVG(CAST(r % 2 AS DOUBLE)) ybar FROM types),
s AS (SELECT p.user_id,
             SUM((p.gt - m.mu) * (CAST(p.r % 2 AS DOUBLE) - (SELECT ybar FROM nn))) sxy
      FROM pres p JOIN mu m USING (user_id) GROUP BY p.user_id)
SELECT user_id % 20 AS "group",
       CAST(COUNT(*) AS INT) AS size,
       ROUND(SUM(sxy * sxy) / 2, 4) AS q_stat
FROM s GROUP BY 1 ORDER BY 1
"""
)


def genotype_fn_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genotype-likelihood / allele scalar helpers (ref functions.py:
    pl_to_gp :5764, gp_dosage :5792, pl_dosage :5827, gq_from_pl,
    parse_call, reverse_complement :6184, is_strand_ambiguous :2672,
    variant_str, unphased_diploid_gt_index_call :2467,
    numeric_allele_type) — all pure Column expressions, replayed
    arithmetically by the oracle."""
    ev = _t(spark, sf_dir, "events").df.filter(F.col("event_id") < 5000)
    pl = F.array(
        (F.col("event_id") % 30).cast("int"),
        (F.col("event_id") * 7 % 40).cast("int"),
        (F.col("event_id") * 13 % 50).cast("int"),
    )
    bases = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    ref = F.element_at(bases, (F.col("event_id") % 4 + 1).cast("int"))
    alt = F.element_at(bases, ((F.col("event_id") + 1) % 4 + 1).cast("int"))
    call_str = F.element_at(
        F.array(F.lit("0/1"), F.lit("1|1"), F.lit("0/0"), F.lit("./."), F.lit("1/1")),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    pc = hf.parse_call(call_str)
    ud = hf.unphased_diploid_gt_index_call(F.col("event_id") % 6)
    return ev.select(
        "event_id",
        hf.gq_from_pl(pl).alias("gq"),
        F.round(hf.pl_dosage(pl), 6).alias("pl_dosage"),
        F.round(hf.pl_to_gp(pl)[0], 6).alias("gp0"),
        pc["GT"].alias("gt"),
        pc["ploidy"].alias("ploidy"),
        pc["phased"].alias("phased"),
        hf.reverse_complement(F.concat(ref, alt, ref)).alias("revcomp"),
        hf.is_strand_ambiguous(ref, alt).alias("ambig"),
        hf.numeric_allele_type(ref, alt).alias("atype"),
        ud["j"].alias("j"),
        ud["k"].alias("k"),
        hf.variant_str(F.lit("c1"), F.col("event_id") % 1000, F.array(ref, alt)).alias(
            "vstr"
        ),
    ).orderBy("event_id")


_GENO_FN_SQL = """
WITH e AS (SELECT event_id,
        [CAST(event_id % 30 AS INT), CAST(event_id * 7 % 40 AS INT),
         CAST(event_id * 13 % 50 AS INT)] AS pl,
        ['A','C','G','T'][CAST(event_id % 4 + 1 AS INT)] AS ref,
        ['A','C','G','T'][CAST((event_id + 1) % 4 + 1 AS INT)] AS alt,
        ['0/1','1|1','0/0','./.','1/1'][CAST(event_id % 5 + 1 AS INT)] AS cs,
        CAST(event_id % 6 AS INT) AS gi
    FROM events WHERE event_id < 5000),
g AS (SELECT *,
        pl[1] + pl[2] + pl[3] - least(pl[1], pl[2], pl[3])
          - greatest(pl[1], pl[2], pl[3]) AS mid,
        POWER(10, -pl[1]/10.0) AS l0, POWER(10, -pl[2]/10.0) AS l1,
        POWER(10, -pl[3]/10.0) AS l2,
        CAST(FLOOR((SQRT(8.0*gi + 1.0) - 1.0) / 2.0) AS INT) AS k
      FROM e)
SELECT event_id,
    CAST(mid - least(pl[1], pl[2], pl[3]) AS INT) AS gq,
    ROUND((l1 + 2*l2) / (l0 + l1 + l2), 6) AS pl_dosage,
    ROUND(l0 / (l0 + l1 + l2), 6) AS gp0,
    CASE cs WHEN '0/1' THEN 1 WHEN '1|1' THEN 2 WHEN '0/0' THEN 0
            WHEN '1/1' THEN 2 END AS gt,
    CASE WHEN cs = './.' THEN NULL ELSE 2 END AS ploidy,
    CASE cs WHEN '1|1' THEN TRUE WHEN './.' THEN NULL ELSE FALSE END AS phased,
    reverse(translate(ref || alt || ref, 'ACGT', 'TGCA')) AS revcomp,
    (ref || '/' || alt) IN ('A/T','T/A','C/G','G/C') AS ambig,
    CASE WHEN ref <> alt THEN 0 ELSE 7 END AS atype,
    CAST(gi - k*(k+1)/2 AS INT) AS j, k,
    'c1:' || CAST(event_id % 1000 AS VARCHAR) || ':' || ref || ',' || alt AS vstr
FROM g ORDER BY event_id
"""


def assoc_tests_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 association tests (ref statgen chi_squared_test /
    fisher_exact_test, commons-math parity): counts aggregate
    distributively, the exact-test finalizer runs on the (tiny)
    collected table like the reference's driver-side finalizers. The
    oracle replays the chi² statistic in closed form and the Fisher
    two-sided p as the lgamma-hypergeometric sum."""
    from hail_spark.expr.stats import chi_squared_test, fisher_exact_test

    ev = _t(spark, sf_dir, "events").df
    cts = (
        ev.groupBy("event_type")
        .agg(
            F.sum(((F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 == 0)).cast("int")).alias("a"),
            F.sum(((F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 != 0)).cast("int")).alias("b"),
            F.sum(((F.col("user_id") % 2 == 1) & (F.col("event_id") % 3 == 0)).cast("int")).alias("c"),
            F.sum(((F.col("user_id") % 2 == 1) & (F.col("event_id") % 3 != 0)).cast("int")).alias("d"),
        )
        .orderBy("event_type")
        .collect()
    )
    rows = []
    for r in cts:
        chi = chi_squared_test(r["a"], r["b"], r["c"], r["d"])
        fis = fisher_exact_test(r["a"], r["b"], r["c"], r["d"])
        rows.append(
            {
                "event_type": r["event_type"],
                "chi_sq_stat": round(
                    sum(
                        (o - e) ** 2 / e
                        for o, e in zip(
                            (r["a"], r["b"], r["c"], r["d"]),
                            (
                                (r["a"] + r["b"]) * (r["a"] + r["c"]) / (r["a"] + r["b"] + r["c"] + r["d"]),
                                (r["a"] + r["b"]) * (r["b"] + r["d"]) / (r["a"] + r["b"] + r["c"] + r["d"]),
                                (r["c"] + r["d"]) * (r["a"] + r["c"]) / (r["a"] + r["b"] + r["c"] + r["d"]),
                                (r["c"] + r["d"]) * (r["b"] + r["d"]) / (r["a"] + r["b"] + r["c"] + r["d"]),
                            ),
                        )
                    ),
                    6,
                ),
                "fisher_p": round(fis["p_value"], 6),
                "odds_ratio": round(chi["odds_ratio"], 6),
            }
        )
    return spark.createDataFrame(rows).select(
        "event_type", "chi_sq_stat", "fisher_p", "odds_ratio"
    )


_ASSOC_SQL = """
WITH cts AS (SELECT event_type,
    SUM(CASE WHEN user_id % 2 = 0 AND event_id % 3 = 0 THEN 1 ELSE 0 END) a,
    SUM(CASE WHEN user_id % 2 = 0 AND event_id % 3 <> 0 THEN 1 ELSE 0 END) b,
    SUM(CASE WHEN user_id % 2 = 1 AND event_id % 3 = 0 THEN 1 ELSE 0 END) c,
    SUM(CASE WHEN user_id % 2 = 1 AND event_id % 3 <> 0 THEN 1 ELSE 0 END) d
  FROM events GROUP BY 1),
base AS (SELECT *, a+b+c+d AS n, a+b AS row1, a+c AS col1,
                GREATEST(0, (a+b)+(a+c)-(a+b+c+d)) AS klo,
                LEAST(a+b, a+c) AS khi,
                lgamma(a+b+1.0) + lgamma(c+d+1.0) + lgamma(a+c+1.0)
                  + lgamma(b+d+1.0) - lgamma(a+b+c+d+1.0) AS lbase
         FROM cts),
pmf AS (SELECT event_type, a, lbase, x,
               EXP(lbase - lgamma(x+1.0) - lgamma(row1-x+1.0)
                   - lgamma(col1-x+1.0) - lgamma(n-row1-col1+x+1.0)) AS pk
        FROM (SELECT *, unnest(range(CAST(klo AS BIGINT), CAST(khi+1 AS BIGINT))) AS x
              FROM base)),
obs AS (SELECT event_type,
               EXP(lbase - lgamma(a+1.0) - lgamma(row1-a+1.0)
                   - lgamma(col1-a+1.0) - lgamma(n-row1-col1+a+1.0))
                 * (1 + 1e-7) AS pobs
        FROM base),
fish AS (SELECT p.event_type,
                LEAST(1.0, SUM(CASE WHEN p.pk <= o.pobs THEN p.pk ELSE 0 END)) AS fp
         FROM pmf p JOIN obs o USING (event_type) GROUP BY 1)
SELECT b.event_type,
       ROUND((a - (a+b)*(a+c)/CAST(n AS DOUBLE))^2 / ((a+b)*(a+c)/CAST(n AS DOUBLE))
           + (b - (a+b)*(b+d)/CAST(n AS DOUBLE))^2 / ((a+b)*(b+d)/CAST(n AS DOUBLE))
           + (c - (c+d)*(a+c)/CAST(n AS DOUBLE))^2 / ((c+d)*(a+c)/CAST(n AS DOUBLE))
           + (d - (c+d)*(b+d)/CAST(n AS DOUBLE))^2 / ((c+d)*(b+d)/CAST(n AS DOUBLE)), 6)
         AS chi_sq_stat,
       ROUND(f.fp, 6) AS fisher_p,
       ROUND(a * d / CAST(b * c AS DOUBLE), 6) AS odds_ratio
FROM base b JOIN fish f USING (event_type) ORDER BY b.event_type
"""


def cmh_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel 2×2×K (ref functions.py:746): per-stratum
    counts aggregate distributively (strata = event types), the
    continuity-corrected statistic and common odds ratio replay in
    closed form."""
    from hail_spark.expr.stats import cochran_mantel_haenszel_test

    ev = _t(spark, sf_dir, "events").df
    cts = (
        ev.groupBy("event_type")
        .agg(
            F.sum(((F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 == 0)).cast("int")).alias("a"),
            F.sum(((F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 != 0)).cast("int")).alias("b"),
            F.sum(((F.col("user_id") % 2 == 1) & (F.col("event_id") % 3 == 0)).cast("int")).alias("c"),
            F.sum(((F.col("user_id") % 2 == 1) & (F.col("event_id") % 3 != 0)).cast("int")).alias("d"),
        )
        .orderBy("event_type")
        .collect()
    )
    res = cochran_mantel_haenszel_test(
        [r["a"] for r in cts], [r["b"] for r in cts],
        [r["c"] for r in cts], [r["d"] for r in cts],
    )
    return spark.createDataFrame(
        [
            {
                "test_statistic": round(res["test_statistic"], 6),
                "odds_ratio": round(res["odds_ratio"], 6),
            }
        ]
    ).select("test_statistic", "odds_ratio")


_CMH_SQL = """
WITH cts AS (SELECT event_type,
    SUM(CASE WHEN user_id % 2 = 0 AND event_id % 3 = 0 THEN 1 ELSE 0 END) a,
    SUM(CASE WHEN user_id % 2 = 0 AND event_id % 3 <> 0 THEN 1 ELSE 0 END) b,
    SUM(CASE WHEN user_id % 2 = 1 AND event_id % 3 = 0 THEN 1 ELSE 0 END) c,
    SUM(CASE WHEN user_id % 2 = 1 AND event_id % 3 <> 0 THEN 1 ELSE 0 END) d
  FROM events GROUP BY 1),
s AS (SELECT
    SUM(a - (a+b)*(a+c)/CAST(a+b+c+d AS DOUBLE)) AS num,
    SUM((a+b)*(c+d)*(a+c)*(b+d)
        / (CAST(a+b+c+d AS DOUBLE)*CAST(a+b+c+d AS DOUBLE)*(a+b+c+d-1))) AS var,
    SUM(a*d/CAST(a+b+c+d AS DOUBLE)) AS sad,
    SUM(b*c/CAST(a+b+c+d AS DOUBLE)) AS sbc
  FROM cts)
SELECT ROUND((ABS(num) - 0.5)^2 / var, 6) AS test_statistic,
       ROUND(sad / sbc, 6) AS odds_ratio
FROM s
"""


def binom_test_by_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.binom_test (ref functions.py, commons-math BinomialTest):
    per-group success counts aggregate distributively; the exact
    two-sided and one-sided p-values replay as lgamma-pmf sums."""
    from hail_spark.expr.stats import binom_test

    ev = _t(spark, sf_dir, "events").df
    cts = (
        ev.groupBy("event_type")
        .agg(
            F.sum((F.col("event_id") % 3 == 0).cast("int")).alias("k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
        .collect()
    )
    rows = [
        {
            "event_type": r["event_type"],
            "k": r["k"],
            "n": r["n"],
            "p_two_sided": round(binom_test(r["k"], r["n"], 1.0 / 3.0), 6),
            "p_greater": round(
                binom_test(r["k"], r["n"], 1.0 / 3.0, "greater"), 6
            ),
        }
        for r in cts
    ]
    return spark.createDataFrame(rows).select(
        "event_type", "k", "n", "p_two_sided", "p_greater"
    )


_BINOM_SQL = """
WITH cts AS (SELECT event_type,
                    CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) k,
                    CAST(COUNT(*) AS BIGINT) n
             FROM events GROUP BY 1),
pmf AS (SELECT event_type, k, n, i,
               EXP(lgamma(n+1.0) - lgamma(i+1.0) - lgamma(n-i+1.0)
                   + i*LN(1.0/3.0) + (n-i)*LN(2.0/3.0)) AS pi
        FROM (SELECT *, unnest(range(0, CAST(n+1 AS BIGINT))) AS i FROM cts)),
obs AS (SELECT event_type,
               EXP(lgamma(n+1.0) - lgamma(k+1.0) - lgamma(n-k+1.0)
                   + k*LN(1.0/3.0) + (n-k)*LN(2.0/3.0)) * (1 + 1e-7) AS pk
        FROM cts)
SELECT c.event_type, c.k, c.n,
       ROUND(LEAST(1.0, (SELECT SUM(CASE WHEN p.pi <= o.pk THEN p.pi ELSE 0 END)
                         FROM pmf p JOIN obs o USING (event_type)
                         WHERE p.event_type = c.event_type)), 6) AS p_two_sided,
       ROUND(LEAST(1.0, (SELECT SUM(pi) FROM pmf p
                         WHERE p.event_type = c.event_type AND p.i >= c.k)), 6)
         AS p_greater
FROM cts c ORDER BY c.event_type
"""


def pca_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hwe_normalized_pca (ref pca.py:35): the full eigenvalue spectrum
    of the HWE-normalized gram is verified through its moment
    identities — Σλ = tr(G), Σλ² = tr(G²), Σλ³ = tr(G³) — which the
    oracle computes from the long-format normalized matrix with plain
    joins. Three independent moment constraints over a k=n spectrum pin
    the eigenvalues without needing an eigensolver in SQL."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.statgen import hwe_normalized_pca

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        ((F.count(F.lit(1)) % 5) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    n = len(mt._cols)
    evals, scores, _ = hwe_normalized_pca(mt, k=n)
    return spark.createDataFrame(
        [
            {
                "n_evals": len(evals),
                "m1": round(sum(evals), 6),
                "m2": round(sum(v * v for v in evals), 6),
                "m3": round(sum(v * v * v for v in evals), 6),
            }
        ]
    ).select("n_evals", "m1", "m2", "m3")


_PCA_MOMENTS_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 5 AS INT) % 3 AS gt
              FROM events GROUP BY user_id, event_type),
m AS (SELECT COUNT(DISTINCT user_id) m FROM long),
st AS (SELECT user_id, AVG(gt) mean, AVG(gt)/2.0 p FROM long GROUP BY user_id),
keep AS (SELECT user_id, mean, 2*p*(1-p) nrm FROM st WHERE p > 0 AND p < 1),
pres AS (SELECT l.user_id, l.event_type s, (l.gt - k.mean)/SQRT(k.nrm) xn
         FROM long l JOIN keep k USING (user_id)),
g AS (SELECT a.s sa, b.s sb, SUM(a.xn * b.xn) / (SELECT m FROM m) AS g
      FROM pres a JOIN pres b ON a.user_id = b.user_id GROUP BY a.s, b.s),
nt AS (SELECT COUNT(DISTINCT event_type) n FROM long)
SELECT (SELECT n FROM nt) AS n_evals,
       ROUND((SELECT SUM(g) FROM g WHERE sa = sb), 6) AS m1,
       ROUND((SELECT SUM(g*g) FROM g), 6) AS m2,
       ROUND((SELECT SUM(x.g * y.g * z.g)
              FROM g x JOIN g y ON x.sb = y.sa
                       JOIN g z ON y.sb = z.sa AND z.sb = x.sa), 6) AS m3
"""


def de_novo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """de_novo candidates (ref family_methods.py:564): kid het, parents
    hom-ref, kid depth gate — trio gather is an index projection over
    the entries array (no shuffle)."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.genetics import de_novo_candidates

    ev = _t(spark, sf_dir, "events").df
    long = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("event_type").alias("s"),
            (F.col("n") % 3).cast("int").alias("GT"),
            (F.col("n") % 10 + 2).cast("int").alias("DP"),
        )
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GT", "DP"]
    )
    fam = spark.createDataFrame(
        [
            {"fam_id": "f1", "id": "click", "pat_id": "view", "mat_id": "purchase", "is_female": False},
            {"fam_id": "f2", "id": "error", "pat_id": "signup", "mat_id": "click", "is_female": True},
        ]
    )
    out = de_novo_candidates(mt, fam, min_kid_dp=6)
    return out.orderBy("user_id", "id")


_DE_NOVO_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
cells AS (SELECT user_id, event_type, CAST(n % 3 AS INT) gt,
                 CAST(n % 10 + 2 AS INT) dp FROM long),
trio AS (SELECT 'click' kid, 'view' dad, 'purchase' mom
         UNION ALL SELECT 'error', 'signup', 'click')
SELECT k.user_id, t.kid AS id
FROM trio t
JOIN cells k ON k.event_type = t.kid
JOIN cells d ON d.user_id = k.user_id AND d.event_type = t.dad
JOIN cells m ON m.user_id = k.user_id AND m.event_type = t.mom
WHERE k.gt = 1 AND d.gt = 0 AND m.gt = 0 AND k.dp >= 6
ORDER BY k.user_id, id
"""


def charr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_charr contamination estimator (ref qc.py:1822): hom-var
    ref-read fraction scaled by in-sample ref AF, filtered on GQ/DP —
    the same map-only per-sample accumulation as sample_qc."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.qc import compute_charr

    ev = _t(spark, sf_dir, "events").df
    long = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            "event_type",
            (F.col("n") % 3).cast("int").alias("GT"),
            ((F.col("n") * 7) % 40 + 5).cast("int").alias("GQ"),
            F.array(
                ((F.col("n") * 3) % 12).cast("int"),
                ((F.col("n") * 5) % 20 + 4).cast("int"),
            ).alias("AD"),
        )
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type",
        entry_fields=["GT", "GQ", "AD"],
    )
    out = compute_charr(mt, min_dp=10, max_dp=100, min_gq=20)
    return out.select(
        "event_type", F.round("charr", 6).alias("charr")
    ).orderBy("event_type")


_CHARR_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
cells AS (SELECT user_id, event_type,
                 CAST(n % 3 AS INT) gt,
                 CAST((n * 7) % 40 + 5 AS INT) gq,
                 CAST((n * 3) % 12 AS INT) ad0,
                 CAST((n * 5) % 20 + 4 AS INT) ad1
          FROM long),
raf AS (SELECT user_id, 1.0 - SUM(gt) / CAST(2 * COUNT(*) AS DOUBLE) raf
        FROM cells GROUP BY user_id),
kept AS (
  SELECT c.event_type,
         (CAST(c.ad0 AS DOUBLE) / (c.ad0 + c.ad1)) / r.raf AS frac
  FROM cells c JOIN raf r USING (user_id)
  WHERE r.raf > 0.05 AND r.raf < 0.95
    AND c.gt = 2 AND c.gq >= 20 AND c.ad0 + c.ad1 BETWEEN 10 AND 100),
types AS (SELECT DISTINCT event_type FROM long)
SELECT t.event_type, ROUND(AVG(k.frac), 6) AS charr
FROM types t LEFT JOIN kept k USING (event_type)
GROUP BY t.event_type ORDER BY t.event_type
"""


def summarize_alleles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summarize_variants (ref qc.py:1725): allele-type census + ti/tv
    over synthetic variants (one explode + hash-agg); the oracle replays
    the expected classification arithmetically from the generator."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.methods.qc import summarize_variants

    ev = _t(spark, sf_dir, "events").df
    m = F.col("vid") % 6
    alleles = (
        F.when(m == 0, F.array(F.lit("A"), F.lit("G")))
        .when(m == 1, F.array(F.lit("A"), F.lit("C")))
        .when(m == 2, F.array(F.lit("A"), F.lit("AT")))
        .when(m == 3, F.array(F.lit("AT"), F.lit("A")))
        .when(m == 4, F.array(F.lit("AC"), F.lit("GT")))
        .otherwise(F.array(F.lit("A"), F.lit("T"), F.lit("G")))
    )
    rows = ev.select(F.col("event_id").alias("vid")).distinct().select(
        "vid",
        alleles.alias("alleles"),
        F.array().cast("array<struct<x:int>>").alias(ENTRIES),
    )
    mt = MatrixTable(rows, ("vid",), [], ())
    s = summarize_variants(mt)
    at = s["allele_types"]
    return spark.createDataFrame(
        [
            {
                "n_variants": s["n_variants"],
                "n_alleles": s["n_alleles"],
                "n_snp": at.get("SNP", 0),
                "n_insertion": at.get("Insertion", 0),
                "n_deletion": at.get("Deletion", 0),
                "n_mnp": at.get("MNP", 0),
                "r_ti_tv": round(s["r_ti_tv"], 6),
            }
        ],
        "n_variants bigint, n_alleles bigint, n_snp bigint, n_insertion bigint, "
        "n_deletion bigint, n_mnp bigint, r_ti_tv double",
    )


_SUMMARIZE_SQL = """
WITH v AS (SELECT DISTINCT event_id, event_id % 6 AS m FROM events),
c AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(SUM(CASE WHEN m = 5 THEN 2 ELSE 1 END) AS BIGINT) AS n_alleles,
        CAST(SUM(CASE WHEN m IN (0, 1) THEN 1 WHEN m = 5 THEN 2 ELSE 0 END) AS BIGINT) AS n_snp,
        CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_insertion,
        CAST(SUM(CASE WHEN m = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletion,
        CAST(SUM(CASE WHEN m = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_mnp,
        SUM(CASE WHEN m IN (0, 5) THEN 1 ELSE 0 END) AS n_ti,
        SUM(CASE WHEN m IN (1, 5) THEN 1 ELSE 0 END) AS n_tv
      FROM v)
SELECT n_variants, n_alleles, n_snp, n_insertion, n_deletion, n_mnp,
       ROUND(CAST(n_ti AS DOUBLE) / n_tv, 6) AS r_ti_tv
FROM c
"""


def bm_band_matmul_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockMatrix.sparsify_band then matmul (ref BlockMatrix.scala:591,
    :950): band blocks outside the diagonal range are dropped before the
    gemm, so the multiply only touches surviving blocks."""
    from hail_spark.linalg import BlockMatrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a_long = li.groupBy(
        (F.col("l_suppkey") % 24).alias("i"), (F.col("l_partkey") % 24).alias("j")
    ).agg(F.sum("l_quantity").alias("v"))
    A = BlockMatrix.from_long(a_long, 24, 24, block_size=8)
    B = A.sparsify_band(-2, 3)
    C = B.matmul(B)
    return (
        C.to_long()
        .filter(F.abs(F.col("v")) > 1e-9)
        .select("i", "j", F.round("v", 3).alias("v"))
        .orderBy("i", "j")
    )


_BM_BAND_SQL = """
WITH a AS (SELECT l_suppkey % 24 AS i, l_partkey % 24 AS j, sum(l_quantity) AS v
           FROM lineitem GROUP BY 1, 2),
b AS (SELECT i, j, v FROM a WHERE j - i BETWEEN -2 AND 3)
SELECT x.i AS i, y.j AS j, round(sum(x.v * y.v), 3) AS v
FROM b x JOIN b y ON x.j = y.i
GROUP BY x.i, y.j HAVING abs(sum(x.v * y.v)) > 1e-9 ORDER BY 1, 2
"""


def bm_sparse_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockMatrix structural battery (ref BlockMatrix.scala:591 band,
    :726 rectangles, :816 add, :961 transpose, :950 dot): a band
    sparsify and a transposed far-corner rectangle have DISJOINT block
    sets, so their add exercises the sparse-union full-outer zero-fill
    path; the result is Hadamard-multiplied, scaled, then tree_matmul'd
    back against the dense operand."""
    from hail_spark.linalg import BlockMatrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a_long = li.groupBy(
        (F.col("l_suppkey") % 24).alias("i"), (F.col("l_partkey") % 24).alias("j")
    ).agg(F.sum("l_quantity").alias("v"))
    A = BlockMatrix.from_long(a_long, 24, 24, block_size=8)
    band = A.sparsify_band(-2, 2)
    rect = A.sparsify_rectangles([(16, 24, 0, 8)])
    C = band.add(rect.transpose()).mul(A).scalar_mul(0.5)
    D = C.tree_matmul(A, splits=2)
    return (
        D.to_long()
        .filter(F.abs(F.col("v")) > 1e-9)
        .select("i", "j", F.round("v", 3).alias("v"))
        .orderBy("i", "j")
    )


_BM_SPARSE_SQL = """
WITH a AS (SELECT l_suppkey % 24 AS i, l_partkey % 24 AS j, sum(l_quantity) AS v
           FROM lineitem GROUP BY 1, 2),
band AS (SELECT i, j, v FROM a WHERE j - i BETWEEN -2 AND 2),
rt AS (SELECT j AS i, i AS j, v FROM a WHERE i >= 16 AND i < 24 AND j >= 0 AND j < 8),
s AS (SELECT COALESCE(b.i, r.i) AS i, COALESCE(b.j, r.j) AS j,
             COALESCE(b.v, 0) + COALESCE(r.v, 0) AS v
      FROM band b FULL OUTER JOIN rt r ON b.i = r.i AND b.j = r.j),
c AS (SELECT s.i, s.j, 0.5 * s.v * a.v AS v
      FROM s JOIN a ON s.i = a.i AND s.j = a.j)
SELECT x.i AS i, y.j AS j, round(sum(x.v * y.v), 3) AS v
FROM c x JOIN a y ON x.j = y.i
GROUP BY x.i, y.j HAVING abs(sum(x.v * y.v)) > 1e-9 ORDER BY 1, 2
"""


def approx_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.approx_quantiles / approx_median (ref aggregators.py:1109,
    ApproxCDFAggregator): GK sketch via percentile_approx. Run in the
    exact regime (accuracy >> group size) so the DuckDB discrete
    quantile replays it exactly."""
    from hail_spark.expr import aggregators as agg

    ev = _t(spark, sf_dir, "events").df
    out = ev.groupBy("event_type").agg(
        agg.approx_quantiles(F.col("value"), [0.1, 0.25, 0.75, 0.9], 1_000_000).alias("qs"),
        agg.approx_median(F.col("value"), 1_000_000).alias("median"),
        F.count("value").alias("n"),
    )
    return out.select(
        "event_type",
        F.col("qs")[0].alias("q10"),
        F.col("qs")[1].alias("q25"),
        F.col("qs")[3].alias("q90"),
        "median",
        "n",
    ).orderBy("event_type")


_APPROX_Q_SQL = """
SELECT event_type,
       quantile_disc(value, 0.1) AS q10,
       quantile_disc(value, 0.25) AS q25,
       quantile_disc(value, 0.9) AS q90,
       quantile_disc(value, 0.5) AS median,
       COUNT(value) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def approx_cdf_struct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.approx_cdf result struct (ref ApproxCDFAggregator.scala):
    {values, ranks, n} per group. Run in the exact regime (accuracy >>
    group size) so every values[i] replays as DuckDB's discrete
    quantile and ranks replay as round(i/k*n)."""
    from hail_spark.expr import aggregators as agg

    ev = _t(spark, sf_dir, "events").df
    out = ev.groupBy("event_type").agg(
        agg.approx_cdf(F.col("value"), accuracy=1_000_000, k=4).alias("cdf")
    )
    return out.select(
        "event_type",
        F.round(F.col("cdf")["values"][1], 9).alias("v25"),
        F.round(F.col("cdf")["values"][2], 9).alias("v50"),
        F.round(F.col("cdf")["values"][3], 9).alias("v75"),
        F.col("cdf")["ranks"][2].alias("r50"),
        F.col("cdf")["n"].alias("n"),
    ).orderBy("event_type")


_APPROX_CDF_SQL = """
SELECT event_type,
       round(quantile_disc(value, 0.25), 9) AS v25,
       round(quantile_disc(value, 0.50), 9) AS v50,
       round(quantile_disc(value, 0.75), 9) AS v75,
       CAST(floor(COUNT(value) * 0.5 + 0.5) AS BIGINT) AS r50,
       COUNT(value) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def mendel_code_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.mendel_error_code (ref functions.py:6415, 12-code table):
    synthetic trios from the events table hit every (copy state, code)
    cell; the oracle replays the CASE ladder arithmetically."""
    ev = _t(spark, sf_dir, "events").df.filter(F.col("event_id") < 20000)
    d = (F.col("event_id") % 3).cast("int")
    m = (F.col("event_id") / 3 % 3).cast("int")
    k = (F.col("event_id") / 9 % 3).cast("int")
    contig = F.element_at(
        F.array(F.lit("1"), F.lit("2"), F.lit("X"), F.lit("Y"), F.lit("3")),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    fem = F.col("event_id") % 2 == 0
    loc = F.struct(contig.alias("contig"), F.lit(1000).alias("position"))
    return ev.select(
        "event_id",
        contig.alias("contig"),
        fem.alias("is_female"),
        d.alias("d"),
        m.alias("m"),
        k.alias("k"),
        hf.mendel_error_code(loc, fem, d, m, k).alias("code"),
    ).orderBy("event_id")


_MENDEL_CODE_SQL = """
WITH t AS (
  SELECT event_id,
         ['1','2','X','Y','3'][CAST(event_id % 5 AS INT) + 1] AS contig,
         event_id % 2 = 0 AS is_female,
         CAST(event_id % 3 AS INT) AS d,
         CAST((event_id // 3) % 3 AS INT) AS m,
         CAST((event_id // 9) % 3 AS INT) AS k
  FROM events WHERE event_id < 20000
), s AS (
  SELECT *,
         (contig NOT IN ('X','Y')) OR (contig = 'X' AND is_female) AS auto,
         contig = 'X' AND NOT is_female AS hemi_x,
         contig = 'Y' AND NOT is_female AS hemi_y
  FROM t
)
SELECT event_id, contig, is_female, d, m, k,
  CASE
    WHEN auto AND d = 2 AND m = 2 AND k = 1 THEN 1
    WHEN auto AND d = 0 AND m = 0 AND k = 1 THEN 2
    WHEN auto AND d = 0 AND m <> 0 AND k = 2 THEN 3
    WHEN auto AND d <> 0 AND m = 0 AND k = 2 THEN 4
    WHEN auto AND d = 0 AND m = 0 AND k = 2 THEN 5
    WHEN auto AND d = 2 AND m <> 2 AND k = 0 THEN 6
    WHEN auto AND d <> 2 AND m = 2 AND k = 0 THEN 7
    WHEN auto AND d = 2 AND m = 2 AND k = 0 THEN 8
    WHEN hemi_x AND m = 2 AND k = 0 THEN 9
    WHEN hemi_x AND m = 0 AND k = 2 THEN 10
    WHEN hemi_y AND d = 2 AND k = 0 THEN 11
    WHEN hemi_y AND d = 0 AND k = 2 THEN 12
    ELSE NULL END AS code
FROM s ORDER BY event_id
"""


def local_to_global_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vds.local_to_global A/R/G reindex (ref vds/functions.py:32) over
    synthetic 2-local-allele calls: LA = [0,1] or [0,2], n_alleles=3 —
    the oracle spells out the inverse permutation per LA shape."""
    from hail_spark.vds import local_to_global

    ev = _t(spark, sf_dir, "events").df.filter(F.col("event_id") < 20000)
    e = F.col("event_id")
    alt = (e % 2 + 1).cast("int")  # second local allele: 1 or 2
    la = F.array(F.lit(0).cast("int"), alt)
    a_arr = F.array((e % 7).cast("int"))
    r_arr = F.array((e % 7).cast("int"), (e % 11).cast("int"))
    g_arr = F.array((e % 5).cast("int"), (e % 13).cast("int"), (e % 17).cast("int"))
    a = local_to_global(a_arr, la, 3, -1, "A")
    r = local_to_global(r_arr, la, 3, -1, "R")
    g = local_to_global(g_arr, la, 3, -9, "G")
    return ev.select(
        "event_id",
        alt.alias("la2"),
        a[0].alias("a0"), a[1].alias("a1"),
        r[0].alias("r0"), r[1].alias("r1"), r[2].alias("r2"),
        g[0].alias("g0"), g[1].alias("g1"), g[2].alias("g2"),
        g[3].alias("g3"), g[4].alias("g4"), g[5].alias("g5"),
    ).orderBy("event_id")


_LOCAL_TO_GLOBAL_SQL = """
WITH t AS (
  SELECT event_id,
         CAST(event_id % 2 + 1 AS INT) AS la2,
         CAST(event_id % 7 AS INT) AS v0, CAST(event_id % 11 AS INT) AS v1,
         CAST(event_id % 5 AS INT) AS p0, CAST(event_id % 13 AS INT) AS p1,
         CAST(event_id % 17 AS INT) AS p2
  FROM events WHERE event_id < 20000
)
SELECT event_id, la2,
  CASE WHEN la2 = 1 THEN v0 ELSE -1 END AS a0,
  CASE WHEN la2 = 2 THEN v0 ELSE -1 END AS a1,
  v0 AS r0,
  CASE WHEN la2 = 1 THEN v1 ELSE -1 END AS r1,
  CASE WHEN la2 = 2 THEN v1 ELSE -1 END AS r2,
  p0 AS g0,
  CASE WHEN la2 = 1 THEN p1 ELSE -9 END AS g1,
  CASE WHEN la2 = 1 THEN p2 ELSE -9 END AS g2,
  CASE WHEN la2 = 2 THEN p1 ELSE -9 END AS g3,
  CAST(-9 AS INT) AS g4,
  CASE WHEN la2 = 2 THEN p2 ELSE -9 END AS g5
FROM t ORDER BY event_id
"""


def split_multi_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only hl.split_multi (ref statgen.py:3132) with star-allele
    dropping: triallelic sites built from part, split to biallelic rows
    carrying a_index/was_split/old_alleles."""
    from hail_spark.methods.genetics import split_multi

    p = _t(spark, sf_dir, "part").df.filter(F.col("p_partkey") < 5000)
    df = p.select(
        F.struct(
            (F.col("p_partkey") % 3).cast("string").alias("contig"),
            F.col("p_partkey").cast("int").alias("position"),
        ).alias("locus"),
        F.array(
            F.lit("A"),
            F.lit("T"),
            F.when(F.col("p_partkey") % 4 == 0, F.lit("*")).otherwise(F.lit("C")),
        ).alias("alleles"),
        F.col("p_size").alias("x"),
    )
    out = split_multi(Table(df, ("locus", "alleles")))
    return out._df.select(
        F.col("locus")["position"].alias("pos"),
        "a_index",
        F.element_at("alleles", 2).alias("alt"),
        "was_split",
        F.size("old_alleles").alias("old_n"),
        "x",
    ).orderBy("pos", "a_index")


_SPLIT_MULTI_ROWS_SQL = """
WITH src AS (
  SELECT CAST(p_partkey AS INT) AS pos, p_size AS x,
         CASE WHEN p_partkey % 4 = 0 THEN '*' ELSE 'C' END AS a3
  FROM part WHERE p_partkey < 5000
)
SELECT pos, 1 AS a_index, 'T' AS alt, TRUE AS was_split, 3 AS old_n, x FROM src
UNION ALL
SELECT pos, 2 AS a_index, a3 AS alt, TRUE AS was_split, 3 AS old_n, x
FROM src WHERE a3 <> '*'
ORDER BY pos, a_index
"""


def bm_row_major_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockMatrix.to_table_row_major (ref blockmatrix.py:1462): a
    50x4 quantity grid from lineitem through the blocked layout and
    back to dense rows, exploded to (i, j, v) so the oracle is a dense
    cross-join replay."""
    from hail_spark.linalg.blockmatrix import BlockMatrix

    li = _t(spark, sf_dir, "lineitem").df
    long = li.groupBy(
        (F.col("l_orderkey") % 50).alias("i"),
        ((F.col("l_linenumber") - 1) % 4).alias("j"),
    ).agg(F.sum("l_quantity").cast("double").alias("v"))
    bm = BlockMatrix.from_long(long, 50, 4, block_size=16)
    t = bm.to_table_row_major()
    return (
        t.df.select(
            F.col("row_idx").alias("i"), F.posexplode("entries").alias("j", "v")
        )
        .select("i", "j", F.round(F.col("v"), 6).alias("v"))
        .orderBy("i", "j")
    )


_BM_ROW_MAJOR_SQL = """
WITH agg AS (
  SELECT l_orderkey % 50 AS i, (l_linenumber - 1) % 4 AS j,
         CAST(SUM(l_quantity) AS DOUBLE) AS v
  FROM lineitem GROUP BY 1, 2
), grid AS (
  SELECT gi.range AS i, gj.range AS j FROM range(50) gi, range(4) gj
)
SELECT grid.i AS i, CAST(grid.j AS INT) AS j,
       round(COALESCE(agg.v, 0.0), 6) AS v
FROM grid LEFT JOIN agg ON grid.i = agg.i AND grid.j = agg.j
ORDER BY i, j
"""


def array_agg_explode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.explode + agg.array_agg dispatchers (ref aggregators.py:390,
    :1995) over embedding prefixes grouped by label: exploded sum/count/
    mean and positionwise sum/mean in one hash-agg pass."""
    em = _t(spark, sf_dir, "embeddings").df
    pre = em.select(
        "label",
        F.transform(
            F.slice("embedding", 1, 4), lambda x: F.round(x.cast("double"), 6)
        ).alias("arr"),
    )
    asum = agg.array_agg(agg.sum, F.col("arr"))
    amean = agg.array_agg(agg.mean, F.col("arr"))
    return (
        pre.groupBy("label")
        .agg(
            F.round(agg.explode(agg.sum, F.col("arr")), 6).alias("esum"),
            agg.explode(agg.count, F.col("arr")).alias("ecnt"),
            F.round(agg.explode(agg.mean, F.col("arr")), 6).alias("emean"),
            F.round(asum[0], 6).alias("s0"),
            F.round(asum[3], 6).alias("s3"),
            F.round(amean[1], 6).alias("m1"),
        )
        .orderBy("label")
    )


_ARRAY_AGG_EXPLODE_SQL = """
WITH pre AS (
  SELECT label,
         round(CAST(embedding[1] AS DOUBLE), 6) AS e0,
         round(CAST(embedding[2] AS DOUBLE), 6) AS e1,
         round(CAST(embedding[3] AS DOUBLE), 6) AS e2,
         round(CAST(embedding[4] AS DOUBLE), 6) AS e3
  FROM embeddings
)
SELECT label,
       round(SUM(e0 + e1 + e2 + e3), 6) AS esum,
       CAST(4 * COUNT(*) AS BIGINT) AS ecnt,
       round(SUM(e0 + e1 + e2 + e3) / (4 * COUNT(*)), 6) AS emean,
       round(SUM(e0), 6) AS s0,
       round(SUM(e3), 6) AS s3,
       round(SUM(e1) / COUNT(*), 6) AS m1
FROM pre GROUP BY label ORDER BY label
"""


def downsample_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.downsample (ref aggregators.py:1533) via the bounded
    two-level grid reduction (downsample_table): the occupied-cell set
    is deterministic (representative choice is not), so the oracle
    replays cell occupancy with DISTINCT floors."""
    from hail_spark.expr.aggregators import downsample_table

    ev = _t(spark, sf_dir, "events").df
    out = downsample_table(
        ev,
        F.col("value") / 100.0,
        (F.col("user_id") % 100) / 100.0,
        group_cols=("event_type",),
        n_divisions=20,
    )
    pts = out.select(
        "event_type", F.explode("points").alias("p")
    ).select(
        "event_type",
        F.floor(F.col("p")["x"] * 20).cast("int").alias("cx"),
        F.floor(F.col("p")["y"] * 20).cast("int").alias("cy"),
    )
    return pts.orderBy("event_type", "cx", "cy")


_DOWNSAMPLE_SQL = """
SELECT DISTINCT event_type,
       CAST(FLOOR(value / 100.0 * 20) AS INT) AS cx,
       CAST(FLOOR((user_id % 100) / 100.0 * 20) AS INT) AS cy
FROM events WHERE value IS NOT NULL
ORDER BY event_type, cx, cy
"""


def plink_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """export_plink → import_plink round trip (ref io/plink/
    LoadPlink.scala, ExportPlink.scala): 2-bit SNP-major .bed encode and
    ranged distributed decode. Matching the parquet replay proves both
    directions of the binary codec."""
    from hail_spark.io.plink import export_plink, import_plink
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = (
        ev.groupBy("user_id", "event_type")
        .agg((F.count(F.lit(1)) % 3).cast("int").alias("GT"))
        .filter(F.col("user_id") % 10 == 0)
        .withColumnRenamed("event_type", "s")
    )
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GT"]
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("1").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.array(F.lit("A"), F.lit("T")).alias("alleles"),
        F.col(ENTRIES),
    )
    mt = MatrixTable(rows, ("locus", "alleles"), mt0._cols, ("s",))
    base = _stage("plink", sf_dir)
    export_plink(mt, base)
    mt2 = import_plink(spark, base + ".bed")
    gts = F.col(ENTRIES).getField("GT")
    return (
        mt2._df.select(
            F.col("locus")["position"].alias("position"),
            F.aggregate(
                F.filter(gts, lambda g: g.isNotNull()), F.lit(0), lambda a, g: a + g
            ).alias("ac"),
            F.size(F.filter(gts, lambda g: g.isNotNull())).alias("n_called"),
        )
        .orderBy("position")
    )


_PLINK_RT_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2)
SELECT CAST(user_id AS INT) AS position, CAST(SUM(gt) AS INT) AS ac,
       CAST(COUNT(*) AS INT) AS n_called
FROM long GROUP BY user_id ORDER BY position
"""


def bgen_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """export_bgen → import_bgen round trip (ref ExportBGEN.scala,
    LoadBgen.scala): layout-2 zlib probability blocks, one-hot GPs so
    8-bit quantization is exact; missing samples exercise the ploidy/
    missingness byte."""
    from hail_spark.io.bgen import export_bgen, import_bgen
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    n = F.count(F.lit(1))
    long = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.when(
                n % 11 == 0, F.lit(None).cast("array<double>")
            )
            .otherwise(
                F.array(
                    (n % 3 == 0).cast("double"),
                    (n % 3 == 1).cast("double"),
                    (n % 3 == 2).cast("double"),
                )
            )
            .alias("GP")
        )
        .filter(F.col("user_id") % 10 == 0)
        .withColumnRenamed("event_type", "s")
    )
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GP"]
    )
    rows = mt0._df.select(
        F.lit("1").alias("contig"),
        F.col("user_id").cast("int").alias("position"),
        F.lit(None).cast("string").alias("rsid"),
        F.array(F.lit("A"), F.lit("T")).alias("alleles"),
        F.col(ENTRIES),
    )
    mt = MatrixTable(rows, ("contig", "position"), mt0._cols, ("s",))
    path = _stage("bgen", sf_dir) + ".bgen"
    export_bgen(mt, path)
    mt2 = import_bgen(spark, path)
    ents = F.filter(F.col(ENTRIES), lambda e: e.isNotNull())
    return (
        mt2._df.select(
            F.col("position"),
            F.size(ents).alias("n_called"),
            F.aggregate(ents, F.lit(0), lambda a, e: a + e["GT"]).alias("ac"),
            F.aggregate(ents, F.lit(0.0), lambda a, e: a + e["GP"][0])
            .cast("int")
            .alias("gp0"),
        )
        .orderBy("position")
    )


_BGEN_RT_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n
              FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
cells AS (SELECT user_id, CAST(n % 3 AS INT) gt, (n % 11 = 0) miss FROM long)
SELECT CAST(user_id AS INT) AS position,
       CAST(SUM(CASE WHEN NOT miss THEN 1 ELSE 0 END) AS INT) AS n_called,
       CAST(SUM(CASE WHEN NOT miss THEN gt ELSE 0 END) AS INT) AS ac,
       CAST(SUM(CASE WHEN NOT miss AND gt = 0 THEN 1 ELSE 0 END) AS INT) AS gp0
FROM cells GROUP BY user_id ORDER BY position
"""


def table_native_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.write → Table.read native round trip (ref TableWrite /
    TableRead ir): keyed parquet + metadata sidecar; the aggregate after
    re-read matching the direct replay proves the format preserves rows,
    schema, and key metadata."""
    from hail_spark.table import Table

    path = _stage("native_rt", sf_dir)
    t = Table.from_spark(
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        ),
        key=("o_orderkey",),
    )
    t.write(path, overwrite=True)
    t2 = Table.read(spark, path)
    assert tuple(t2.key) == ("o_orderkey",)
    return (
        t2.df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("o_totalprice"), "total"),
        )
        .orderBy("o_orderstatus")
    )


_NATIVE_RT_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def bed_intervals_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """import_bed (ref impex.py:813) + broadcast interval containment
    join (TableIntervalJoin): UCSC half-open BED rows lifted to 1-based
    intervals, loci counted per interval with no shuffle."""
    from hail_spark.io.impex import import_bed
    from hail_spark.operators.interval_join import interval_join_point
    from hail_spark.table import Table

    bed_path = _stage("bed", sf_dir) + ".bed"
    with open(bed_path, "w") as f:
        f.write("1\t0\t2000\tr1\n1\t3000\t6000\tr2\n2\t1000\t4000\tr3\n")
    bt = import_bed(spark, bed_path)
    # fold contig into a global coordinate so containment alone implies
    # contig equality (intervals never span contigs)
    gshift = 10_000_000
    iv = bt.df.select(
        (
            F.col("interval")["start"]["contig"].cast("long") * gshift
            + F.col("interval")["start"]["position"]
        ).alias("istart"),
        (
            F.col("interval")["end"]["contig"].cast("long") * gshift
            + F.col("interval")["end"]["position"]
        ).alias("iend"),
        F.col("target"),
    )
    orders = _t(spark, sf_dir, "orders").df
    loci = orders.select(
        (
            (F.col("o_orderkey") % 2 + 1) * gshift + (F.col("o_orderkey") % 8000 + 1)
        ).alias("gpos"),
    )
    joined = interval_join_point(
        Table(loci),
        Table(iv),
        F.col("gpos"),
        start="istart",
        end="iend",
        includes_start=True,
        includes_end=False,
    ).df
    out = joined.groupBy("target").agg(F.count(F.lit(1)).alias("n"))
    return out.orderBy("target")


_BED_JOIN_SQL = """
WITH iv(icontig, istart, iend, target) AS (
  VALUES ('1', 1, 2001, 'r1'), ('1', 3001, 6001, 'r2'), ('2', 1001, 4001, 'r3')
), loci AS (
  SELECT CAST(o_orderkey % 2 + 1 AS VARCHAR) contig,
         CAST(o_orderkey % 8000 + 1 AS INT) pos
  FROM orders
)
SELECT iv.target, COUNT(*) AS n
FROM loci JOIN iv ON loci.contig = iv.icontig
  AND loci.pos >= iv.istart AND loci.pos < iv.iend
GROUP BY iv.target ORDER BY iv.target
"""


def ibd_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """identity_by_descent (ref IBD.scala:152-210): PLINK
    method-of-moments Z0/Z1/Z2/PI_HAT from pairwise IBS gemms and
    small-sample-corrected expectations; the oracle replays the full
    closed form (expectation averages, Z cascade, bounding) in SQL."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.relatedness import identity_by_descent

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    out = identity_by_descent(mt)
    return out.select(
        "i",
        "j",
        F.round("Z0", 6).alias("z0"),
        F.round("Z1", 6).alias("z1"),
        F.round("Z2", 6).alias("z2"),
        F.round("PI_HAT", 6).alias("pi_hat"),
        "ibs0",
        "ibs1",
        "ibs2",
    ).orderBy("i", "j")


_IBD_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
v AS (SELECT user_id,
             2.0 * COUNT(*) AS na,
             CAST(SUM(2 - gt) AS DOUBLE) AS x,
             2.0 * COUNT(*) - SUM(2 - gt) AS y
      FROM long GROUP BY user_id),
kept AS (SELECT user_id, na, x, y, x / na AS p, 1.0 - x / na AS q
         FROM v WHERE na > 3 AND x > 0 AND y > 0),
e AS (SELECT COUNT(*) m,
        AVG(2*p*p*q*q * ((x-1)/x*(y-1)/y)
            * (na/(na-1))*(na/(na-2))*(na/(na-3))) AS e00,
        AVG((4*p*p*p*q * ((x-1)/x*(x-2)/x) + 4*p*q*q*q * ((y-1)/y*(y-2)/y))
            * (na/(na-1))*(na/(na-2))*(na/(na-3))) AS e10,
        AVG((q*q*q*q * ((y-1)/y*(y-2)/y*(y-3)/y)
             + p*p*p*p * ((x-1)/x*(x-2)/x*(x-3)/x)
             + 4*p*p*q*q * ((x-1)/x*(y-1)/y))
            * (na/(na-1))*(na/(na-2))*(na/(na-3))) AS e20,
        AVG((2*p*p*q * ((x-1)/x) + 2*p*q*q * ((y-1)/y))
            * (na/(na-1))*(na/(na-2))) AS e11,
        AVG((p*p*p * ((x-1)/x*(x-2)/x) + q*q*q * ((y-1)/y*(y-2)/y)
             + p*p*q * ((x-1)/x) + p*q*q * ((y-1)/y))
            * (na/(na-1))*(na/(na-2))) AS e21
      FROM kept),
pairs AS (
  SELECT a.event_type i, b.event_type j,
         CAST(SUM(CASE WHEN (a.gt = 0 AND b.gt = 2) OR (a.gt = 2 AND b.gt = 0)
                  THEN 1 ELSE 0 END) AS DOUBLE) ibs0,
         CAST(SUM(CASE WHEN a.gt = b.gt THEN 1 ELSE 0 END) AS DOUBLE) ibs2,
         CAST(COUNT(*) AS DOUBLE) n
  FROM long a
  JOIN long b ON a.user_id = b.user_id AND a.event_type < b.event_type
  JOIN kept k ON k.user_id = a.user_id
  GROUP BY 1, 2),
z AS (
  SELECT i, j, ibs0, n - ibs0 - ibs2 AS ibs1, ibs2, n,
         ibs0 / (e.e00 * n) AS z0,
         ((n - ibs0 - ibs2) - (ibs0 / (e.e00 * n)) * e.e10 * n) / (e.e11 * n) AS z1
  FROM pairs, e),
z2t AS (
  SELECT i, j, ibs0, ibs1, ibs2, z0, z1,
         (ibs2 - z0 * (SELECT e20 FROM e) * n - z1 * (SELECT e21 FROM e) * n) / n AS z2
  FROM z),
bounded AS (
  SELECT i, j, ibs0, ibs1, ibs2,
    CASE WHEN z0 > 1 THEN 1.0 WHEN z1 > 1 THEN 0.0 WHEN z2 > 1 THEN 0.0
         WHEN z0 < 0 THEN 0.0
         WHEN z1 < 0 THEN z0 / (z0 + z2)
         WHEN z2 < 0 THEN z0 / (z0 + z1) ELSE z0 END bz0,
    CASE WHEN z0 > 1 THEN 0.0 WHEN z1 > 1 THEN 1.0 WHEN z2 > 1 THEN 0.0
         WHEN z0 < 0 THEN z1 / (z1 + z2)
         WHEN z1 < 0 THEN 0.0
         WHEN z2 < 0 THEN z1 / (z0 + z1) ELSE z1 END bz1,
    CASE WHEN z0 > 1 THEN 0.0 WHEN z1 > 1 THEN 0.0 WHEN z2 > 1 THEN 1.0
         WHEN z0 < 0 THEN z2 / (z1 + z2)
         WHEN z1 < 0 THEN z2 / (z0 + z2)
         WHEN z2 < 0 THEN 0.0 ELSE z2 END bz2
  FROM z2t)
SELECT i, j, ROUND(bz0, 6) z0, ROUND(bz1, 6) z1, ROUND(bz2, 6) z2,
       ROUND(bz1 / 2.0 + bz2, 6) pi_hat,
       CAST(ibs0 AS BIGINT) ibs0, CAST(ibs1 AS BIGINT) ibs1,
       CAST(ibs2 AS BIGINT) ibs2
FROM bounded ORDER BY i, j
"""


def rrm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """realized_relationship_matrix (ref statgen.py:3650): K = ZᵀZ/m over
    per-variant standardized, mean-imputed genotypes — map-only gemm
    accumulation, no shuffle; the oracle replays the standardization and
    pairwise products in SQL."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.relatedness import realized_relationship_matrix

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    K = realized_relationship_matrix(mt)
    names = [c["event_type"] for c in mt._cols]
    rows = [
        {"i": names[i], "j": names[j], "k": round(float(K[i, j]), 6)}
        for i in range(len(names))
        for j in range(i, len(names))
    ]
    return spark.createDataFrame(rows, "i string, j string, k double").orderBy(
        "i", "j"
    )


_RRM_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
stats AS (SELECT user_id, AVG(gt) mu,
                 SQRT(AVG(CAST(gt AS DOUBLE) * gt) - AVG(gt) * AVG(gt)) sd
          FROM long GROUP BY user_id),
kept AS (SELECT user_id, mu, sd FROM stats WHERE sd > 0),
z AS (SELECT l.user_id, l.event_type, (l.gt - k.mu) / k.sd AS z
      FROM long l JOIN kept k USING (user_id)),
m AS (SELECT COUNT(*) m FROM kept)
SELECT a.event_type i, b.event_type j,
       ROUND(SUM(a.z * b.z) / (SELECT m FROM m), 6) AS k
FROM z a JOIN z b ON a.user_id = b.user_id AND a.event_type <= b.event_type
GROUP BY 1, 2 ORDER BY i, j
"""


def call_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.call_stats (ref CallStatsAggregator.scala,
    aggregators.py:1356): AC/AF/AN/homozygote_count per group over
    int-encoded biallelic calls; arrays serialized as strings for the comparison."""
    from hail_spark.expr import aggregators as agg

    ev = _t(spark, sf_dir, "events").df
    g = ev.groupBy("event_type").agg(
        agg.call_stats((F.col("event_id") % 3).cast("int")).alias("cs")
    )
    return g.select(
        "event_type",
        _arr_str(F.col("cs.AC"), "decimal(18,0)").alias("ac"),
        _arr_str(F.col("cs.AF"), "decimal(18,6)").alias("af"),
        F.col("cs.AN").alias("an"),
        _arr_str(F.col("cs.homozygote_count"), "decimal(18,0)").alias("homs"),
    ).orderBy("event_type")


_CALL_STATS_SQL = """
WITH g AS (SELECT event_type, CAST(event_id % 3 AS INT) gt FROM events),
c AS (SELECT event_type,
             CAST(2 * COUNT(gt) AS BIGINT) an,
             CAST(SUM(gt) AS BIGINT) ac1,
             SUM(CASE WHEN gt = 0 THEN 1 ELSE 0 END) hom0,
             SUM(CASE WHEN gt = 2 THEN 1 ELSE 0 END) hom2
      FROM g GROUP BY event_type)
SELECT event_type,
       CAST(an - ac1 AS VARCHAR) || ',' || CAST(ac1 AS VARCHAR) AS ac,
       CAST(CAST((an - ac1) / CAST(an AS DOUBLE) AS DECIMAL(18,6)) AS VARCHAR)
         || ',' || CAST(CAST(ac1 / CAST(an AS DOUBLE) AS DECIMAL(18,6)) AS VARCHAR) AS af,
       CAST(an AS INT) AS an,
       CAST(hom0 AS VARCHAR) || ',' || CAST(hom2 AS VARCHAR) AS homs
FROM c ORDER BY event_type
"""


def search_keyed_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower_bound/binary_search (V:1556) + keyed_intersection/
    keyed_union (ref functions.py:5582): per-row searches into a literal
    sorted array and keyed-struct set algebra, replayed arithmetically."""
    from hail_spark.expr.functions import (
        keyed_intersection,
        keyed_union,
        lower_bound,
    )

    o = _t(spark, sf_dir, "orders").df.select(
        "o_orderkey", (F.col("o_orderkey") % 120).cast("double").alias("x")
    )
    cuts = F.array(*[F.lit(float(v)) for v in (10, 30, 50, 70, 90, 110)])
    mk = lambda *idx: F.array(  # noqa: E731
        *[
            F.struct(
                (F.col("o_orderkey") % i).cast("int").alias("k"),
                F.lit(i).alias("v"),
            )
            for i in idx
        ]
    )
    a = mk(3, 5)
    b = mk(5, 7)
    out = o.select(
        "o_orderkey",
        lower_bound(cuts, F.col("x")).alias("lb"),
        F.size(keyed_intersection(a, b, "k")).alias("n_inter"),
        F.size(keyed_union(a, b, "k")).alias("n_union"),
    )
    return out.orderBy("o_orderkey")


_SEARCH_KEYED_SQL = """
SELECT o_orderkey,
       CAST((CASE WHEN o_orderkey % 120 > 10 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey % 120 > 30 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey % 120 > 50 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey % 120 > 70 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey % 120 > 90 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey % 120 > 110 THEN 1 ELSE 0 END) AS INT) AS lb,
       CAST(1 + CASE WHEN o_orderkey % 3 = o_orderkey % 5
                       OR o_orderkey % 3 = o_orderkey % 7
                     THEN 1 ELSE 0 END AS INT) AS n_inter,
       CAST(2 + CASE WHEN o_orderkey % 7 != o_orderkey % 3
                      AND o_orderkey % 7 != o_orderkey % 5
                     THEN 1 ELSE 0 END AS INT) AS n_union
FROM orders ORDER BY o_orderkey
"""


def mt_union_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixUnionRows + MatrixDistinctByRow + MatrixChooseCols +
    MatrixKeyRowsBy (M:*): two disjoint row slices plus an overlapping
    duplicate slice unioned, exact-duplicate rows removed by
    distinct_by_row (hash-agg struct-min, no window), columns
    subset+reordered, rows rekeyed by a derived bucket, then
    aggregated."""
    mt = _events_mt(spark, sf_dir)
    lo = mt.filter_rows(F.col("user_id") % 2 == 0)
    hi = mt.filter_rows(F.col("user_id") % 2 == 1)
    dup = mt.filter_rows(F.col("user_id") % 4 == 0)  # re-adds half of `lo`
    u = lo.union_rows(hi).union_rows(dup).distinct_by_row()
    chosen = u.choose_cols([2, 0, 1])
    g = chosen.group_rows_by((F.col("user_id") % 10).alias("bucket")).aggregate(
        total_n=lambda e: F.sum(e["n"])
    )
    first_col = chosen._cols[0]["event_type"]
    out = (
        g.entries()
        .df.filter(F.col("event_type") == first_col)
        .select("bucket", "event_type", "total_n")
    )
    return out.orderBy("bucket")


_MT_UNION_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
third AS (SELECT event_type FROM (SELECT DISTINCT event_type FROM long)
          ORDER BY event_type LIMIT 1 OFFSET 2)
SELECT user_id % 10 AS bucket, event_type, CAST(SUM(n) AS BIGINT) AS total_n
FROM long WHERE event_type = (SELECT event_type FROM third)
GROUP BY 1, 2 ORDER BY bucket
"""


def mt_annotate_rows_interval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-aware MatrixAnnotateRowsTable (ref matrix_ir.py:1097):
    broadcast containment join of an interval table onto MT rows with
    at-most-one-match dedup (lowest start), then per-band entry
    aggregation."""
    from hail_spark.table import Table

    mt = _events_mt(spark, sf_dir)
    # overlapping bands: dedup must deterministically keep lowest start
    iv = spark.createDataFrame(
        [
            {"istart": 0, "iend": 40, "band": "low"},
            {"istart": 30, "iend": 80, "band": "mid"},
            {"istart": 70, "iend": 120, "band": "high"},
        ]
    )
    ann = mt.annotate_rows_table(
        Table(iv), interval=("istart", "iend"), point=F.col("user_id") % 120
    )
    g = ann.annotate_rows_agg_entries(
        lambda entries: {
            "n_events": F.aggregate(
                F.filter(entries, lambda x: x.isNotNull()),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x["n"],
            )
        }
    )
    out = g.rows().df.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
    )
    return out.orderBy("band")


_MT_ANNOT_IV_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
users AS (SELECT user_id, SUM(n) ne FROM long GROUP BY user_id),
iv(istart, iend, band) AS (VALUES (0, 40, 'low'), (30, 80, 'mid'),
                                  (70, 120, 'high')),
m AS (SELECT u.user_id, u.ne,
             (SELECT band FROM iv
              WHERE u.user_id % 120 >= iv.istart AND u.user_id % 120 < iv.iend
              ORDER BY iv.istart LIMIT 1) AS band
      FROM users u)
SELECT band, COUNT(*) AS n_users, CAST(SUM(ne) AS BIGINT) AS n_events
FROM m GROUP BY band ORDER BY band
"""


def min_rep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.min_rep (ref functions.py:6291, variant/VariantMethods
    minRep): suffix then prefix trimming with position shift, over
    synthesized redundant variant representations; the oracle replays
    the expected minimal form per generator case."""
    from hail_spark.expr.functions import min_rep

    ev = _t(spark, sf_dir, "events").df
    m = F.col("event_id") % 5
    ref = (
        F.when(m == 0, F.lit("CAG")).when(m == 1, F.lit("TTA"))
        .when(m == 2, F.lit("AATAA")).when(m == 3, F.lit("GCGC"))
        .otherwise(F.lit("A"))
    )
    alt = (
        F.when(m == 0, F.lit("CTG")).when(m == 1, F.lit("TA"))
        .when(m == 2, F.lit("ATAA")).when(m == 3, F.lit("GCGC"))
        .otherwise(F.lit("C"))
    )
    v = ev.select(F.col("event_id").alias("vid"), (F.col("event_id") % 1000 + 1).alias("pos"), ref.alias("r"), alt.alias("a")).distinct()
    out = v.select(
        "vid",
        min_rep(F.col("pos"), F.col("r"), F.col("a")).alias("mr"),
    )
    return out.select(
        "vid",
        F.col("mr")["position"].cast("int").alias("position"),
        F.col("mr")["ref"].alias("ref"),
        F.col("mr")["alt"].alias("alt"),
    ).orderBy("vid")


_MIN_REP_SQL = """
WITH v AS (SELECT DISTINCT event_id AS vid, event_id % 1000 + 1 AS pos,
                  event_id % 5 AS m FROM events)
SELECT vid,
  CAST(CASE m WHEN 0 THEN pos + 1  -- CAG/CTG -> A/T at pos+1
              WHEN 1 THEN pos      -- TTA/TA  -> TT/T (suffix A trimmed)
              WHEN 2 THEN pos      -- AATAA/ATAA -> AA/A (suffix TAA)
              WHEN 3 THEN pos      -- GCGC identical -> G/G
              ELSE pos END AS INT) AS position,
  CASE m WHEN 0 THEN 'A' WHEN 1 THEN 'TT' WHEN 2 THEN 'AA'
         WHEN 3 THEN 'G' ELSE 'A' END AS ref,
  CASE m WHEN 0 THEN 'T' WHEN 1 THEN 'T' WHEN 2 THEN 'A'
         WHEN 3 THEN 'G' ELSE 'C' END AS alt
FROM v ORDER BY vid
"""


def gvcf_combine_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gVCF → VDS combiner → to_dense_mt end-to-end (ref
    variant_dataset_combiner.py / combine.py, impex.py:3091): one gVCF
    text file per sample is synthesized from events statistics (variant
    sites at sparse user positions, non-overlapping reference blocks
    between them), combined with the local-allele combiner, densified,
    and the dense entries are replayed from the same generator in SQL —
    ref-block fill gives (GT 0, block DP), variant sites give the
    sample's own call."""
    import os

    from hail_spark.io.gvcf import combine_gvcfs

    ev = _t(spark, sf_dir, "events").df
    long = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("user_id") % 50 == 0) & (F.col("n") >= 3))
        .collect()
    )
    types = sorted({r["event_type"] for r in ev.select("event_type").distinct().collect()})
    by_type = {t: {} for t in types}
    for r in long:
        by_type[r["event_type"]][int(r["user_id"]) + 1] = int(r["n"])

    d = _stage("gvcf", sf_dir)
    os.makedirs(d, exist_ok=True)
    hdr = (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=END,Number=1,Type=Integer,Description="End">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="GT">\n'
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="DP">\n'
        '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="GQ">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{s}\n"
    )
    paths = []
    for idx, t in enumerate(types):
        dp_block = idx + 10
        lines = []
        prev = 0  # last covered position
        for pos in sorted(by_type[t]):
            if pos - 1 > prev:
                lines.append(
                    f"1\t{prev + 1}\t.\tA\t<NON_REF>\t.\t.\tEND={pos - 1}\t"
                    f"GT:DP:GQ\t0/0:{dp_block}:50"
                )
            n = by_type[t][pos]
            gt = "0/1" if n % 2 == 1 else "1/1"
            lines.append(
                f"1\t{pos}\t.\tA\tT,<NON_REF>\t50\t.\t.\tGT:DP:GQ\t{gt}:{n}:99"
            )
            prev = pos
        lines.append(
            f"1\t{prev + 1}\t.\tA\t<NON_REF>\t.\t.\tEND=1000000\t"
            f"GT:DP:GQ\t0/0:{dp_block}:50"
        )
        p = os.path.join(d, f"{t}.g.vcf")
        with open(p, "w") as f:
            f.write(hdr.format(s=t))
            f.write("\n".join(lines) + "\n")
        paths.append(p)

    vds = combine_gvcfs(spark, paths)
    dense = vds.to_dense_mt()
    out = dense.entries().df
    return (
        out.filter(F.col("GT").isNotNull())
        .select(
            F.col("locus")["position"].alias("position"),
            F.col("s").alias("event_type"),
            F.col("GT").cast("int").alias("gt"),
            F.col("DP").cast("int").alias("dp"),
        )
        .orderBy("position", "event_type")
    )


_GVCF_COMBINE_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
types AS (SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) - 1 idx
          FROM (SELECT DISTINCT event_type FROM events)),
vars AS (SELECT user_id, event_type, n FROM long
         WHERE user_id % 50 = 0 AND n >= 3),
sites AS (SELECT DISTINCT user_id FROM vars)
SELECT CAST(s.user_id + 1 AS INT) AS position, t.event_type AS event_type,
       CAST(COALESCE(2 - v.n % 2, 0) AS INT) AS gt,
       CAST(COALESCE(v.n, t.idx + 10) AS INT) AS dp
FROM sites s CROSS JOIN types t
LEFT JOIN vars v ON v.user_id = s.user_id AND v.event_type = t.event_type
ORDER BY position, t.event_type
"""


def scan_array_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.scan.array_agg(sum) (operators/scans.py scan_array_sum;
    ref test_expr.py:1212): exclusive elementwise prefix sums over an
    8-wide integerized embedding slice, keyed by vec_id. floor(v*1000)
    keeps the accumulation exact so the two-pass partial combine and
    DuckDB's sequential window sum agree bit-for-bit."""
    from hail_spark.table import Table as _Tbl

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 50 == 0)
        .select(
            "vec_id",
            F.transform(
                F.slice(F.col("embedding"), 1, 8),
                lambda v: F.floor(v.cast("double") * 1000).cast("bigint"),
            ).alias("a"),
        )
    )
    t = _Tbl(emb, ("vec_id",)).repartition(4, shuffle=True)
    out = scans.scan_array_sum(t, F.col("a"), "ps")
    return out.df.select(
        "vec_id",
        F.coalesce(
            F.array_join(F.transform(F.col("ps"), lambda x: x.cast("string")), ","),
            F.lit(""),
        ).alias("ps"),
    ).orderBy("vec_id")


_SCAN_ARRAY_SUM_SQL = """
WITH e AS (SELECT vec_id,
                  list_transform(list_slice(embedding, 1, 8),
                                 v -> CAST(FLOOR(v::DOUBLE * 1000) AS BIGINT)) AS a
           FROM embeddings WHERE vec_id % 50 = 0),
long AS (SELECT vec_id, i, a[i] AS v FROM e, UNNEST(range(1, 9)) AS u(i)),
s AS (SELECT vec_id, i,
             SUM(v) OVER (PARTITION BY i ORDER BY vec_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps
      FROM long)
SELECT vec_id,
       COALESCE(array_to_string(array_agg(CAST(ps AS VARCHAR) ORDER BY i), ','), '') AS ps
FROM s GROUP BY vec_id ORDER BY vec_id
"""


def array_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.array_sum over fixed-width embeddings (ref
    aggregators.py:934) via the bounded array_sum_fixed path: one native
    SUM buffer per element, decimal accumulation for order-independent
    float sums."""
    from hail_spark.expr.aggregators import array_sum_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = emb.groupBy((F.col("vec_id") % 8).alias("bucket")).agg(
        array_sum_fixed(F.col("embedding"), 8, cast="decimal(38,6)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return out.select(
        "bucket", _arr_str(F.col("s"), "decimal(18,4)").alias("s"), "n"
    ).orderBy("bucket")


_ARRAY_SUM_SQL = """
WITH g AS (SELECT vec_id % 8 AS bucket, embedding AS vec FROM embeddings),
s AS (SELECT bucket, COUNT(*) n,
  {sums}
  FROM g GROUP BY bucket)
SELECT bucket, {cat} AS s, n FROM s ORDER BY bucket
""".format(
    sums=",\n  ".join(
        f"CAST(SUM(CAST(vec[{i+1}] AS DECIMAL(38,6))) AS DOUBLE) e{i}"
        for i in range(8)
    ),
    cat=" || ',' || ".join(
        f"CAST(CAST(e{i} AS DECIMAL(18,4)) AS VARCHAR)" for i in range(8)
    ),
)


def table_gen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableRange + TableGen + TableMapPartitions (ref T:175/T:1124,
    LowerTableIR.scala:961): a range table generates per-element rows
    through an Arrow-batched stream→stream partition function, then a
    deterministic per-row sample — the oracle replays the generator
    arithmetic from DuckDB's range()."""
    import pandas as pd

    from hail_spark.table import Table

    t = Table.range(spark, 10000, n_partitions=8)

    def gen(batches):
        for pdf in batches:
            i = pdf["idx"]
            yield pd.DataFrame(
                {"idx": i, "sq": i * i, "bucket": i % 7}
            )

    g = t.map_partitions(gen, "idx bigint, sq bigint, bucket bigint")
    out = g.df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").alias("sum_sq"),
        F.min("idx").alias("min_idx"),
        F.max("idx").alias("max_idx"),
    )
    return out.orderBy("bucket")


_TABLE_GEN_SQL = """
SELECT i % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(i * i) AS BIGINT) AS sum_sq,
       MIN(i) AS min_idx, MAX(i) AS max_idx
FROM (SELECT UNNEST(range(10000)) AS i)
GROUP BY bucket ORDER BY bucket
"""


def checkpoint_chain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.checkpoint (ref table.py:1924): write native + read back
    mid-pipeline; the downstream aggregate over the checkpointed table
    must match the direct replay."""
    from hail_spark.table import Table

    t = Table.from_spark(
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        key=("o_orderkey",),
    ).filter(F.col("o_totalprice") > 50000.0)
    cp = t.checkpoint(_stage("ckpt", sf_dir))
    out = cp.df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("o_totalprice"), "total"),
    )
    return out.orderBy("o_orderpriority")


_CHECKPOINT_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders WHERE o_totalprice > 50000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def pc_relate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pc_relate (ref PCRelate.scala): ancestry-adjusted kinship with
    EXPLICIT literal PC scores, making the whole computation closed-form
    — the oracle replays the 3×3 normal-equation solve (cofactor
    inverse), per-variant mu prediction, maf masking, and the pairwise
    numerator/denominator gemms entirely in SQL."""
    import numpy as np

    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.relatedness import pc_relate

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    nt = len(mt._cols)
    # literal scores: s1 = t - 2, s2 = (t-2)^2 - 2 over the col rank t
    scores = np.array([[t - 2.0, (t - 2.0) ** 2 - 2.0] for t in range(nt)])
    out = pc_relate(mt, scores=scores, min_individual_maf=0.01)
    return out.select(
        "i", "j", F.round("kin", 6).alias("kin")
    ).orderBy("i", "j")


_PC_RELATE_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
sc AS (SELECT event_type,
              1.0 AS one,
              CAST(t - 2 AS DOUBLE) AS s1,
              CAST((t - 2) * (t - 2) - 2 AS DOUBLE) AS s2
       FROM (SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) - 1 t
             FROM (SELECT DISTINCT event_type FROM long))),
g AS (SELECT SUM(one*one) g00, SUM(one*s1) g01, SUM(one*s2) g02,
             SUM(s1*s1) g11, SUM(s1*s2) g12, SUM(s2*s2) g22 FROM sc),
ginv AS (SELECT
  g11*g22 - g12*g12 AS c00, g02*g12 - g01*g22 AS c01, g01*g12 - g02*g11 AS c02,
  g00*g22 - g02*g02 AS c11, g01*g02 - g00*g12 AS c12, g00*g11 - g01*g01 AS c22,
  g00*(g11*g22 - g12*g12) - g01*(g01*g22 - g02*g12) + g02*(g01*g12 - g02*g11) AS det
  FROM g),
vm AS (SELECT user_id, AVG(CAST(gt AS DOUBLE)) mean FROM long GROUP BY user_id),
grid AS (SELECT v.user_id, s.event_type, s.one, s.s1, s.s2,
                COALESCE(CAST(l.gt AS DOUBLE), v.mean) gi,
                l.gt IS NOT NULL AS present
         FROM vm v CROSS JOIN sc s
         LEFT JOIN long l ON l.user_id = v.user_id AND l.event_type = s.event_type),
bt AS (SELECT user_id, SUM(gi) b0, SUM(s1*gi) b1, SUM(s2*gi) b2
       FROM grid GROUP BY user_id),
beta AS (SELECT user_id,
    (c00*b0 + c01*b1 + c02*b2) / det AS beta0,
    (c01*b0 + c11*b1 + c12*b2) / det AS beta1,
    (c02*b0 + c12*b1 + c22*b2) / det AS beta2
  FROM bt, ginv),
mu AS (SELECT g.user_id, g.event_type, g.present, g.gi,
              0.5 * (b.beta0*g.one + b.beta1*g.s1 + b.beta2*g.s2) AS mu
       FROM grid g JOIN beta b USING (user_id)),
gd AS (SELECT user_id, event_type,
    CASE WHEN present AND mu > 0.01 AND mu < 0.99 THEN gi - 2*mu ELSE 0 END AS c,
    CASE WHEN present AND mu > 0.01 AND mu < 0.99
         THEN SQRT(GREATEST(mu * (1 - mu), 0)) ELSE 0 END AS sq
  FROM mu)
SELECT a.event_type i, b.event_type j,
       ROUND(SUM(a.c * b.c) / (4.0 * SUM(a.sq * b.sq)), 6) AS kin
FROM gd a JOIN gd b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY i, j
"""


def mt_native_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixTable.write → MatrixTable.read native round trip (ref
    MatrixNativeWriter / MatrixRead): entries-array parquet + metadata
    sidecar preserving row key, col key, and col fields."""
    mt = _events_mt(spark, sf_dir)
    path = _stage("mt_rt", sf_dir)
    mt.write(path, overwrite=True)
    from hail_spark.matrixtable import MatrixTable

    mt2 = MatrixTable.read(spark, path)
    assert [c["event_type"] for c in mt2._cols] == [
        c["event_type"] for c in mt._cols
    ]
    out = mt2.annotate_rows_agg_entries(
        lambda entries: {
            "total_v": F.aggregate(
                F.filter(entries, lambda x: x.isNotNull()),
                F.lit(0).cast("decimal(38,6)"),
                lambda acc, x: acc + x["v"],
            ).cast("double"),
            "n_events": F.aggregate(
                F.filter(entries, lambda x: x.isNotNull()),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x["n"],
            ),
        }
    )
    return (
        out.rows().df.select("user_id", "total_v", "n_events").orderBy("user_id")
    )


_MT_NATIVE_RT_SQL = (
    "WITH " + _MT_LONG_CTE + """
SELECT user_id, CAST(SUM(v) AS DOUBLE) AS total_v,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM long GROUP BY user_id ORDER BY user_id
"""
)


def hail_native_ht_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a REFERENCE-WRITTEN native .ht (io/hail_native.py — the
    migration on-ramp): the reference's own
    backward-compat fixture (zstd-compressed blocks + TypedCodecSpec,
    written by hail 0.2.115) decodes into our Table; the emitted scalar
    projection replays as constants the reference's generator
    (helpers.py create_all_values) pins: f32=3.14, i64=-9,
    call(0,1)=12, locus chr22:33878978, nd=arange(10).reshape(2,5)."""
    from test_hail_native import BASE

    from hail_spark.io.hail_native import read_table

    t = read_table(spark, f"{BASE}/1.7.0/table/6.ht")
    return (
        t.df.select(
            "idx",
            F.round(F.col("f32").cast("double"), 6).alias("f32"),
            "i64",
            F.col("h38")["position"].alias("h38_pos"),
            F.col("c").alias("call_int"),
            F.col("i")["end"]["position"].alias("ival_end"),
            F.element_at(F.col("nd")["data"], 10).alias("nd_last"),
            F.size("aset").alias("n_aset"),
        )
        .orderBy("idx")
    )


_HAIL_NATIVE_HT_SQL = """
SELECT CAST(i AS INT) AS idx, CAST(3.14 AS DOUBLE) AS f32, CAST(-9 AS BIGINT) AS i64,
       33878978 AS h38_pos, 12 AS call_int, 1001 AS ival_end,
       9 AS nd_last, 3 AS n_aset
FROM (SELECT UNNEST(range(5)) AS i) ORDER BY idx
"""


def avro_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.import_avro (ref impex.py:3345 / AvroTableReader.scala) via
    the pure-Python container-file codec (io/avro.py — the spark-avro
    jar is absent here, so this exercises the mapInPandas fallback
    reader end to end, including a deflate-coded file): events slice →
    2 avro files → import_avro → aggregate; the oracle replays from the
    raw events table."""
    import hashlib
    import os

    from hail_spark.io.avro import write_avro_file
    from hail_spark.io.impex import import_avro

    d = _stage("avro", sf_dir)
    if not os.path.exists(os.path.join(d, "part-1.avro")):
        os.makedirs(d, exist_ok=True)
        ev = (
            _t(spark, sf_dir, "events")
            .df.filter(F.col("event_id") % 7 == 0)
            .select("event_id", "user_id", "event_type", "value")
            .orderBy("event_id")
        )
        rows = [r.asDict() for r in ev.collect()]
        schema = {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": ["null", "string"]},
                {"name": "value", "type": ["null", "double"]},
            ],
        }
        half = len(rows) // 2
        write_avro_file(os.path.join(d, "part-0.avro"), schema, rows[:half])
        write_avro_file(
            os.path.join(d, "part-1.avro"), schema, rows[half:], codec="deflate"
        )
    t = import_avro(spark, d)
    return (
        t.df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.round(F.sum("value"), 6).alias("val_sum"),
        )
        .orderBy("event_type")
    )


_AVRO_RT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       round(SUM(value), 6) AS val_sum
FROM events WHERE event_id % 7 = 0
GROUP BY event_type ORDER BY event_type
"""


def gen_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """export_gen → import_gen round trip (ref io/gen/ExportGen,
    LoadGen): codegen-assembled GEN text lines re-parsed by the Catalyst
    token-split pipeline; one-hot GPs survive %.4f formatting exactly,
    missing entries exercise the '0 0 0' convention."""
    from hail_spark.io.impex import export_gen, import_gen
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    n = F.count(F.lit(1))
    long = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.when(n % 11 == 0, F.lit(None).cast("array<double>"))
            .otherwise(
                F.array(
                    (n % 3 == 0).cast("double"),
                    (n % 3 == 1).cast("double"),
                    (n % 3 == 2).cast("double"),
                )
            )
            .alias("GP")
        )
        .filter(F.col("user_id") % 10 == 0)
        .withColumnRenamed("event_type", "s")
    )
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="s", entry_fields=["GP"]
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("1").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.array(F.lit("A"), F.lit("T")).alias("alleles"),
        F.concat(F.lit("v"), F.col("user_id")).alias("varid"),
        F.concat(F.lit("rs"), F.col("user_id")).alias("rsid"),
        F.col(ENTRIES),
    )
    mt = MatrixTable(rows, ("locus", "alleles"), mt0._cols, ("s",))
    path = _stage("gen_rt", sf_dir)
    export_gen(mt, path)
    mt2 = import_gen(spark, f"{path}/gen", f"{path}/samples.sample")
    ents = F.filter(F.col(ENTRIES), lambda e: e["GT"].isNotNull())
    return (
        mt2._df.select(
            F.col("locus")["position"].alias("position"),
            F.size(ents).alias("n_called"),
            F.aggregate(ents, F.lit(0), lambda a, e: a + e["GT"]).alias("ac"),
        )
        .orderBy("position")
    )


_GEN_RT_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n
              FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
cells AS (SELECT user_id, CAST(n % 3 AS INT) gt, (n % 11 = 0) miss FROM long)
SELECT CAST(user_id AS INT) AS position,
       CAST(SUM(CASE WHEN NOT miss THEN 1 ELSE 0 END) AS INT) AS n_called,
       CAST(SUM(CASE WHEN NOT miss THEN gt ELSE 0 END) AS INT) AS ac
FROM cells GROUP BY user_id ORDER BY position
"""


def fanout_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.write_fanout (ref TableNativeFanoutWriter,
    table_writer.py:77): one cached read, two column-pruned native
    outputs; re-reading one branch and aggregating proves the pruned
    projection kept key + requested fields."""
    from hail_spark.table import Table

    root = _stage("fanout", sf_dir)
    t = Table.from_spark(
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
        ),
        key=("o_orderkey",),
    )
    t.write_fanout(
        root,
        {
            "price": ["o_totalprice", "o_orderstatus"],
            "priority": ["o_custkey", "o_orderpriority"],
        },
        overwrite=True,
    )
    price = Table.read(spark, f"{root}/price")
    prio = Table.read(spark, f"{root}/priority")
    assert sorted(price.df.columns) == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    out1 = price.df.groupBy("o_orderstatus").agg(
        _dsum(F.col("o_totalprice"), "total"), F.count(F.lit(1)).alias("n")
    )
    out2 = prio.df.groupBy(F.col("o_orderpriority").alias("o_orderstatus")).agg(
        (F.count(F.lit(1)).cast("decimal(38,6)")).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    return out1.unionByName(out2).orderBy("o_orderstatus")


_FANOUT_SQL = """
SELECT o_orderstatus, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT o_orderpriority AS o_orderstatus, CAST(COUNT(*) AS DOUBLE) AS total, COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
ORDER BY o_orderstatus
"""


def grep_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """import_lines + hl.grep shape (ref impex.py:1898/1016): documents
    exported as text, re-read as a lines table, regex-filtered with
    rlike — the whole filter runs JVM-side."""
    from hail_spark.io.impex import import_lines

    path = _stage("lines", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(path)
    t = import_lines(spark, path)
    hits = t.df.filter(F.col("text").rlike("window.*join|join.*window"))
    return hits.select(
        F.split(F.col("text"), "\t")[0].cast("bigint").alias("doc_id"),
        F.length("text").alias("len"),
    ).orderBy("doc_id")


_GREP_SQL = """
SELECT doc_id, CAST(LENGTH(doc_id || CHR(9) || text) AS INT) AS len
FROM documents
WHERE regexp_matches(doc_id || CHR(9) || text, 'window.*join|join.*window')
ORDER BY doc_id
"""


def map_globals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableMapGlobals (ref table_ir.py TableMapGlobals / table.py
    annotate_globals): globals are driver-side plan literals consumed
    by row maps — the whole point is they never touch the shuffle."""
    t = _t(spark, sf_dir, "nation", ("n_nationkey",))
    t = t.annotate_globals(factor=3, label="g")
    g = t.globals
    t = t.annotate(
        scaled=F.col("n_regionkey") * F.lit(g["factor"]),
        label=F.lit(g["label"]),
    )
    return t.df.select("n_nationkey", "n_name", "scaled", "label").orderBy(
        "n_nationkey"
    )


_MAP_GLOBALS_SQL = """
SELECT n_nationkey, n_name, n_regionkey * 3 AS scaled, 'g' AS label
FROM nation ORDER BY n_nationkey
"""


def reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.reservoir_sample (ref agg/ReservoirSampleAggregator) as the
    bounded min-k-hash plan (operators/topk.grouped_reservoir): keep
    the k rows whose salted hashes rank smallest — per-group state ≤ k
    at any corpus size. portable_hash=True uses md5 so the oracle
    replays the EXACT sample."""
    from hail_spark.operators.topk import grouped_reservoir

    ev = _t(spark, sf_dir, "events").df
    out = grouped_reservoir(
        ev, ["event_type"], F.col("event_id"), k=5, seed=3, out="sample",
        portable_hash=True,
    )
    return out.select(
        "event_type",
        F.array_join(
            F.transform(F.array_sort("sample"), lambda x: x.cast("string")), ","
        ).alias("sample"),
    ).orderBy("event_type")


_RESERVOIR_SQL = """
WITH h AS (SELECT event_type, event_id,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':3'), 1, 15))::BIGINT AS hv
           FROM events),
r AS (SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h)
SELECT event_type,
       COALESCE(array_to_string(list_sort(array_agg(event_id)), ','), '') AS sample
FROM r WHERE rn <= 5 GROUP BY event_type ORDER BY event_type
"""


def fold_entropy_hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.fold (AggFold V:2741) + hl.entropy (functions.py:3972) +
    hl.hamming (functions.py:3941) battery: per c_custkey%5 group, a
    folded decimal sum, summed hamming distance to the reversed phone,
    and a decimal-summed per-name character entropy — all pure Column
    HOFs (DuckDB replays entropy with its log2 entropy aggregate)."""
    cust = _t(spark, sf_dir, "customer").df.filter(F.col("c_custkey") <= 200)
    ent = hf.entropy(F.col("c_name"))
    ham = hf.hamming(F.col("c_mktsegment"), F.reverse(F.col("c_mktsegment")))
    out = cust.groupBy((F.col("c_custkey") % 5).alias("g")).agg(
        agg.fold(
            F.col("c_acctbal").cast("decimal(38,6)"),
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, x: acc + x,
        )
        .cast("double")
        .alias("folded_bal"),
        F.sum(ham).cast("bigint").alias("ham_sum"),
        F.sum(ent.cast("decimal(38,6)")).cast("double").alias("ent_sum"),
    )
    return out.orderBy("g")


_FOLD_ENT_HAM_SQL = """
WITH c AS (SELECT * FROM customer WHERE c_custkey <= 200),
ents AS (
  SELECT c_custkey,
         entropy(ch) AS ent
  FROM (SELECT c_custkey,
               unnest(list_transform(range(1, length(c_name) + 1),
                                     i -> c_name[i:i])) AS ch
        FROM c)
  GROUP BY c_custkey),
hams AS (
  SELECT c_custkey,
         (SELECT COUNT(*) FROM unnest(range(1, length(c_mktsegment) + 1)) AS t(i)
          WHERE c_mktsegment[i:i] <> reverse(c_mktsegment)[i:i]) AS ham
  FROM c)
SELECT c.c_custkey % 5 AS g,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS folded_bal,
       CAST(SUM(h.ham) AS BIGINT) AS ham_sum,
       CAST(SUM(CAST(e.ent AS DECIMAL(38,6))) AS DOUBLE) AS ent_sum
FROM c JOIN ents e USING (c_custkey) JOIN hams h USING (c_custkey)
GROUP BY 1 ORDER BY g
"""


def ndarray_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.agg.ndarray_sum (ref aggregators.py:972): elementwise sum of
    2×2 ndarray structs per group. Elements are integer-valued doubles
    so the fold is order-exact; the oracle sums each cell."""
    from hail_spark.expr import ndarray as nd

    ev = _t(spark, sf_dir, "events").df
    mat = nd.make(
        [2, 2],
        F.array(
            (F.col("event_id") % 7).cast("double"),
            (F.col("user_id") % 5).cast("double"),
            F.lit(1.0),
            (F.col("event_id") % 3).cast("double"),
        ),
    )
    out = ev.groupBy("event_type").agg(agg.ndarray_sum(mat).alias("nd"))
    return out.select(
        "event_type",
        F.array_join(
            F.transform(F.col("nd")["shape"], lambda x: x.cast("string")), ","
        ).alias("shape"),
        _arr_str(F.col("nd")["data"]).alias("data"),
    ).orderBy("event_type")


_NDARRAY_SUM_SQL = """
SELECT event_type, '2,2' AS shape,
       array_to_string([
         CAST(CAST(SUM(event_id % 7) AS DECIMAL(18,2)) AS VARCHAR),
         CAST(CAST(SUM(user_id % 5) AS DECIMAL(18,2)) AS VARCHAR),
         CAST(CAST(COUNT(*) AS DECIMAL(18,2)) AS VARCHAR),
         CAST(CAST(SUM(event_id % 3) AS DECIMAL(18,2)) AS VARCHAR)], ',') AS data
FROM events GROUP BY event_type ORDER BY event_type
"""


def balding_nichols_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.balding_nichols_model (ref statgen.py:3984): seeded
    deterministic cohort simulation (per-variant numpy streams inside
    mapInPandas — partitioning-independent). No table input, so the
    per-population genotype sums are corpus-independent and the oracle
    pins them as VALUES."""
    from hail_spark.matrixtable import ENTRIES
    from hail_spark.methods.genetics import balding_nichols_model

    mt = balding_nichols_model(
        spark, n_populations=3, n_samples=12, n_variants=40, fst=0.2, seed=11
    )
    pops = [c["pop"] for c in mt._cols]
    pop_lit = F.array(*[F.lit(int(p)) for p in pops])
    gt = F.transform(F.col(ENTRIES), lambda e: e["GT"].cast("bigint"))
    long = mt._df.select(F.posexplode(gt).alias("j", "g")).select(
        F.element_at(pop_lit, F.col("j") + 1).alias("pop"), "g"
    )
    return (
        long.groupBy("pop")
        .agg(
            (F.count(F.lit(1)) / 40).cast("bigint").alias("n_samples"),
            F.sum("g").cast("bigint").alias("gt_sum"),
        )
        .orderBy("pop")
    )


_BALDING_NICHOLS_SQL = """
SELECT * FROM (VALUES
  (0, CAST(4 AS BIGINT), CAST(143 AS BIGINT)),
  (1, CAST(5 AS BIGINT), CAST(172 AS BIGINT)),
  (2, CAST(3 AS BIGINT), CAST(123 AS BIGINT))) AS t(pop, n_samples, gt_sum)
ORDER BY pop
"""


def maximal_independent_set_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.maximal_independent_set (ref misc.py:16): greedy
    highest-degree-removal MIS — driver-side over the collected edge
    list, exactly like the reference (its implementation collects the
    edges too). Edges are a fixed function of the 25 nation keys, so
    the kept set is corpus-independent and pinned."""
    from hail_spark.methods.misc import maximal_independent_set

    nat = _t(spark, sf_dir, "nation").df
    keys = sorted(r["n_nationkey"] for r in nat.select("n_nationkey").collect())
    edges = [(i, (i * 7 + 3) % 25) for i in keys if i != (i * 7 + 3) % 25]
    kept = sorted(maximal_independent_set(edges))
    kept_df = spark.createDataFrame([(k,) for k in kept], "n_nationkey int")
    return (
        kept_df.join(nat.select(F.col("n_nationkey").cast("int"), "n_name"), "n_nationkey")
        .orderBy("n_nationkey")
    )


_MIS_SQL = """
SELECT k.n_nationkey, n.n_name
FROM (VALUES (3),(6),(7),(9),(10),(11),(13),(14),(15),(17),(18),(21))
     AS k(n_nationkey)
JOIN nation n ON n.n_nationkey = k.n_nationkey
ORDER BY k.n_nationkey
"""


def row_correlation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.row_correlation (ref statgen.py:3730): Pearson correlation
    between MT rows, computed as a standardized BlockMatrix gram
    (Z Zᵀ — distributed matmul, never a driver-side n² loop). Rows =
    event types, cols = 8 user buckets (dense at every SF); the oracle
    replays each pair with DuckDB's corr aggregate."""
    from hail_spark.matrixtable import MatrixTable
    from hail_spark.methods.relatedness import row_correlation

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy(
        F.col("event_type").alias("et"), (F.col("user_id") % 8).alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    mt = MatrixTable.from_long(
        long, row_key=["et"], col_key="b", entry_fields=["n"]
    )
    C = row_correlation(mt, x_field="n")
    ets = sorted(r["et"] for r in long.select("et").distinct().collect())
    rows = []
    for i in range(len(ets)):
        for j in range(i + 1, len(ets)):
            rows.append((ets[i], ets[j], round(float(C[i, j]), 6)))
    return spark.createDataFrame(rows, "et_a string, et_b string, r double").orderBy(
        "et_a", "et_b"
    )


_ROW_CORR_SQL = """
WITH long AS (SELECT event_type AS et, user_id % 8 AS b, COUNT(*)::DOUBLE AS n
              FROM events GROUP BY 1, 2)
SELECT a.et AS et_a, b.et AS et_b, round(corr(a.n, b.n), 6) AS r
FROM long a JOIN long b ON a.b = b.b AND a.et < b.et
GROUP BY a.et, b.et ORDER BY et_a, et_b
"""


def bm_svd_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockMatrix.svd (tall-skinny gramian path) checked through
    moment identities (the pca_moments pattern): Σσ² equals the squared
    Frobenius norm of A and Σσ⁴ the squared Frobenius norm of AᵀA —
    both SQL-computable, and only correct if the distributed gramian +
    eigendecomposition are."""
    import numpy as np

    from hail_spark.linalg.blockmatrix import BlockMatrix

    nat = _t(spark, sf_dir, "nation").df
    long = nat.select(
        F.col("n_nationkey").cast("bigint").alias("i"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
    ).select(
        "i",
        F.col("j").cast("bigint"),
        ((F.col("i") * 4 + F.col("j")) % 7 - 3.0).cast("double").alias("v"),
    )
    A = BlockMatrix.from_long(long, 25, 4, block_size=8, i="i", j="j", v="v")
    s = A.svd(compute_uv=False)
    s = np.asarray(s, dtype=float)
    return _t(spark, sf_dir, "nation").df.limit(1).select(
        F.lit(round(float((s**2).sum()), 6)).alias("m2"),
        F.lit(round(float((s**4).sum()), 6)).alias("m4"),
    )


_BM_SVD_SQL = """
WITH a AS (SELECT n_nationkey AS i, j, ((n_nationkey * 4 + j) % 7 - 3.0)::DOUBLE AS v
           FROM nation, unnest([0, 1, 2, 3]) AS t(j)),
g AS (SELECT x.j AS j1, y.j AS j2, SUM(x.v * y.v) AS gv
      FROM a x JOIN a y ON x.i = y.i GROUP BY x.j, y.j)
SELECT round((SELECT SUM(v * v) FROM a), 6) AS m2,
       round((SELECT SUM(gv * gv) FROM g), 6) AS m4
"""


def filter_intervals_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.filter_intervals on a keyed Table (ref methods/misc.py:330):
    literal interval list compiles to an OR predicate pushed into the
    parquet scan (row-group pruning = the reference's partition
    pruning)."""
    from hail_spark.methods.misc import filter_intervals

    t = _t(spark, sf_dir, "orders", key=("o_orderkey",))
    ivs = [
        {"start": 100, "end": 2000, "includes_start": True, "includes_end": False},
        {"start": 5000, "end": 5500, "includes_start": False, "includes_end": True},
    ]
    kept = filter_intervals(t, ivs, keep=True)
    dropped = filter_intervals(t, ivs, keep=False)
    n_dropped = dropped.df.count()
    return (
        kept.df.select("o_orderkey", "o_totalprice")
        .withColumn("n_dropped", F.lit(n_dropped).cast("long"))
        .orderBy("o_orderkey")
    )


_FILTER_INTERVALS_SQL = """
WITH kept AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE (o_orderkey >= 100 AND o_orderkey < 2000)
     OR (o_orderkey > 5000 AND o_orderkey <= 5500)
)
SELECT o_orderkey, o_totalprice,
       (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM kept) AS n_dropped
FROM kept ORDER BY o_orderkey
"""


def segment_intervals_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.segment_intervals (ref methods/misc.py:425): per-nation
    [min,max] custkey intervals segmented at 3 fixed points — the
    lower/upper bound lookups and sub-interval construction are pure
    HOFs, the row multiplication one explode."""
    from hail_spark.methods.misc import segment_intervals
    from hail_spark.table import Table as HTable

    cust = _t(spark, sf_dir, "customer").df
    iv = cust.groupBy("c_nationkey").agg(
        F.min("c_custkey").cast("int").alias("s"),
        F.max("c_custkey").cast("int").alias("e"),
    )
    t = HTable(
        iv.select(
            "c_nationkey",
            F.struct(
                F.col("s").alias("start"),
                F.col("e").alias("end"),
                F.lit(True).alias("includes_start"),
                F.lit(True).alias("includes_end"),
            ).alias("iv"),
        ),
        ("iv",),
    )
    out = segment_intervals(t, [500, 900, 1300])
    return out.df.select(
        "c_nationkey",
        F.col("iv")["start"].alias("seg_start"),
        F.col("iv")["end"].alias("seg_end"),
    ).orderBy("c_nationkey", "seg_start")


_SEGMENT_INTERVALS_SQL = """
WITH iv AS (SELECT c_nationkey, CAST(MIN(c_custkey) AS INT) s, CAST(MAX(c_custkey) AS INT) e
            FROM customer GROUP BY 1),
pts(p) AS (VALUES (500), (900), (1300)),
bounds AS (
  SELECT c_nationkey, s AS b FROM iv
  UNION ALL SELECT c_nationkey, e FROM iv
  UNION ALL SELECT iv.c_nationkey, p FROM iv JOIN pts ON p > iv.s AND p < iv.e
),
seg AS (SELECT c_nationkey, b AS seg_start,
               LEAD(b) OVER (PARTITION BY c_nationkey ORDER BY b) AS seg_end
        FROM bounds)
SELECT c_nationkey, seg_start, seg_end FROM seg
WHERE seg_end IS NOT NULL ORDER BY c_nationkey, seg_start
"""


def tidyr_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """experimental.gather (ref tidyr.py:8): wide→long stack()."""
    from hail_spark import experimental as hx
    from hail_spark.table import Table as HTable

    cust = _t(spark, sf_dir, "customer").df
    t = HTable(
        cust.select(
            "c_custkey",
            F.col("c_acctbal").alias("a"),
            F.col("c_nationkey").cast("double").alias("b"),
        ),
        ("c_custkey",),
    )
    out = hx.gather(t, "key", "value", "a", "b")
    return out.df.orderBy("c_custkey", "key")


_TIDYR_GATHER_SQL = """
SELECT c_custkey, 'a' AS "key", c_acctbal AS "value" FROM customer
UNION ALL
SELECT c_custkey, 'b', CAST(c_nationkey AS DOUBLE) FROM customer
ORDER BY c_custkey, "key"
"""


def tidyr_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """experimental.spread (ref tidyr.py:44): long→wide pivot — one
    shuffle; the pivot domain is the 5 event types."""
    from hail_spark import experimental as hx
    from hail_spark.table import Table as HTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy((F.col("user_id") % 100).alias("g"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = HTable(long, ("g",))
    out = hx.spread(t, "event_type", "n", key=["g"])
    cols = ["g"] + sorted(c for c in out.df.columns if c != "g")
    return out.df.select(*cols).orderBy("g")


_TIDYR_SPREAD_SQL = """
WITH long AS (SELECT user_id % 100 AS g, event_type, COUNT(*) n
              FROM events GROUP BY 1, 2)
SELECT g,
       MAX(CASE WHEN event_type = 'click' THEN n END) AS click,
       MAX(CASE WHEN event_type = 'error' THEN n END) AS error,
       MAX(CASE WHEN event_type = 'purchase' THEN n END) AS purchase,
       MAX(CASE WHEN event_type = 'signup' THEN n END) AS signup,
       MAX(CASE WHEN event_type = 'view' THEN n END) AS view
FROM long GROUP BY g ORDER BY g
"""


def rename_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.rename_duplicates (ref methods/misc.py:280): duplicate column
    keys (doc sources, heavily repeated) get _N suffixes; column
    metadata is driver-resident by design."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.methods.misc import rename_duplicates

    docs = (
        _t(spark, sf_dir, "documents").df.orderBy("doc_id").limit(50)
        .select("source").collect()
    )
    cols = [{"s": r["source"]} for r in docs]
    row = spark.createDataFrame(
        [{"k": 1, ENTRIES: [{"x": 0} for _ in cols]}],
        f"k int, {ENTRIES} array<struct<x:int>>",
    )
    mt = MatrixTable(row, ("k",), cols, ("s",))
    out = rename_duplicates(mt)
    return spark.createDataFrame(
        [
            {"idx": i, "s": c["s"], "unique_id": c["unique_id"]}
            for i, c in enumerate(out._cols)
        ],
        "idx int, s string, unique_id string",
    ).orderBy("idx")


_RENAME_DUPLICATES_SQL = """
WITH d AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS idx
  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)
),
r AS (SELECT idx, source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY idx) rn FROM d)
SELECT CAST(idx AS INT) AS idx, source AS s,
       CASE WHEN rn = 1 THEN source ELSE source || '_' || (rn - 1) END AS unique_id
FROM r ORDER BY idx
"""


def haplotype_em_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.haplotype_freq_em (ref haplotype_freq_em.py /
    ExperimentalFunctions.scala): EM haplotype counts per variant-pair
    genotype-count vector.  The double-het cell is zeroed so the EM
    fixed point has the closed form [2g0+g1+g3, 2g6+g3+g7, 2g2+g1+g5,
    2g8+g5+g7] — replayable exactly in SQL while still exercising the
    full EM code path."""
    from hail_spark import experimental as hx

    ev = _t(spark, sf_dir, "events").df
    counts = ev.groupBy("event_type").agg(
        *[
            F.count(F.when((F.col("event_id") % 9) == i, 1)).cast("int").alias(f"g{i}")
            for i in range(9)
        ]
    )
    arr = F.array(*[(F.lit(0) if i == 4 else F.col(f"g{i}")) for i in range(9)])
    out = counts.select(
        "event_type", hx.haplotype_freq_em(arr).alias("h")
    )
    return out.select(
        "event_type", _arr_str(F.col("h")).alias("hap_counts")
    ).orderBy("event_type")


_HAP_EM_SQL = """
WITH c AS (
  SELECT event_type,
         COUNT(CASE WHEN event_id % 9 = 0 THEN 1 END) g0,
         COUNT(CASE WHEN event_id % 9 = 1 THEN 1 END) g1,
         COUNT(CASE WHEN event_id % 9 = 2 THEN 1 END) g2,
         COUNT(CASE WHEN event_id % 9 = 3 THEN 1 END) g3,
         COUNT(CASE WHEN event_id % 9 = 5 THEN 1 END) g5,
         COUNT(CASE WHEN event_id % 9 = 6 THEN 1 END) g6,
         COUNT(CASE WHEN event_id % 9 = 7 THEN 1 END) g7,
         COUNT(CASE WHEN event_id % 9 = 8 THEN 1 END) g8
  FROM events GROUP BY 1)
SELECT event_type,
       CAST(CAST(2*g0+g1+g3 AS DECIMAL(18,2)) AS VARCHAR) || ',' ||
       CAST(CAST(2*g6+g3+g7 AS DECIMAL(18,2)) AS VARCHAR) || ',' ||
       CAST(CAST(2*g2+g1+g5 AS DECIMAL(18,2)) AS VARCHAR) || ',' ||
       CAST(CAST(2*g8+g5+g7 AS DECIMAL(18,2)) AS VARCHAR) AS hap_counts
FROM c ORDER BY event_type
"""


def ld_score_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.ld_score (ref ldscore.py:18), univariate: per
    variant the windowed sum of bias-adjusted r² (+1 self term) — the
    banded-pair engine instead of the reference's sparsified
    BlockMatrix."""
    from hail_spark import experimental as hx
    from hail_spark.matrixtable import MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt0 = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("c").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.col("__entries"),
    )
    mt = MatrixTable(rows, ("locus",), mt0._cols, mt0._col_key)
    out = hx.ld_score(mt, radius=25)
    return out.select(
        F.col("locus")["position"].alias("pos"),
        F.round("univariate", 6).alias("univariate"),
    ).orderBy("pos")


_LD_SCORE_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type FROM events),
users AS (SELECT DISTINCT user_id FROM long),
n_s AS (SELECT COUNT(*) AS n FROM types),
imput AS (
  SELECT u.user_id, t.event_type,
         COALESCE(l.gt, AVG(l2.gt)) AS v
  FROM users u CROSS JOIN types t
  LEFT JOIN long l ON u.user_id = l.user_id AND t.event_type = l.event_type
  LEFT JOIN long l2 ON u.user_id = l2.user_id
  GROUP BY u.user_id, t.event_type, l.gt),
pairs AS (
  SELECT a.user_id pa, b.user_id pb, CORR(a.v, b.v) r
  FROM imput a JOIN imput b
    ON a.event_type = b.event_type
   AND b.user_id > a.user_id AND b.user_id - a.user_id <= 25
  GROUP BY 1, 2),
sym AS (
  SELECT pa AS u, r FROM pairs WHERE r IS NOT NULL
  UNION ALL
  SELECT pb, r FROM pairs WHERE r IS NOT NULL),
adj AS (
  SELECT u, ((n.n - 1.0) / (n.n - 2.0)) * r * r - 1.0 / (n.n - 2.0) AS c
  FROM sym CROSS JOIN n_s n),
score AS (SELECT u, SUM(c) s FROM adj GROUP BY u)
SELECT CAST(us.user_id AS INT) AS pos,
       ROUND(1.0 + COALESCE(sc.s, 0.0), 6) AS univariate
FROM users us LEFT JOIN score sc ON us.user_id = sc.u
ORDER BY pos
"""


def mt_full_outer_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.full_outer_join_mt (ref full_outer_join_mt.py):
    two user×type matrices with different row/col subsets joined on
    both dimensions; output the flattened entries long table."""
    from hail_spark import experimental as hx
    from hail_spark.matrixtable import MatrixTable

    ev = _t(spark, sf_dir, "events").df
    base = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m1 = MatrixTable.from_long(
        base.filter(F.col("n") % 2 == 0),
        row_key=["user_id"], col_key="event_type", entry_fields=["n"],
    )
    m2 = MatrixTable.from_long(
        base.filter(F.col("n") % 3 == 0),
        row_key=["user_id"], col_key="event_type", entry_fields=["n"],
    )
    out = hx.full_outer_join_mt(m1, m2)
    long = out.entries().df
    return long.select(
        "user_id",
        "event_type",
        F.col("left_entry")["n"].alias("lv"),
        F.col("right_entry")["n"].alias("rv"),
    ).orderBy("user_id", "event_type")


_MT_FOJ_SQL = """
WITH base AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
l AS (SELECT * FROM base WHERE n % 2 = 0),
r AS (SELECT * FROM base WHERE n % 3 = 0),
au AS (SELECT DISTINCT user_id FROM l UNION SELECT DISTINCT user_id FROM r),
at2 AS (SELECT DISTINCT event_type FROM l UNION SELECT DISTINCT event_type FROM r),
grid AS (SELECT u.user_id, t.event_type FROM au u CROSS JOIN at2 t)
SELECT g.user_id, g.event_type, l.n AS lv, r.n AS rv
FROM grid g
LEFT JOIN l ON g.user_id = l.user_id AND g.event_type = l.event_type
LEFT JOIN r ON g.user_id = r.user_id AND g.event_type = r.event_type
ORDER BY g.user_id, g.event_type
"""


def faf_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.filtering_allele_frequency (ref
    filtering_allele_frequency.py / package.scala calcFilterAlleleFreq):
    Whiffin et al. filtering AF per (ac, an).  The per-value qpois
    root-find has no SQL form, so the oracle pins a (ac -> faf) VALUES
    map.  To keep the pin valid at EVERY scale factor, (ac, an) are
    derived from the nation table (25 rows at all SFs): ac =
    3*(n_nationkey+1), an = 500 — the pinned constants never depend on
    corpus size, and a wrong faf implementation still breaks the
    value-hash."""
    from hail_spark import experimental as hx

    nat = _t(spark, sf_dir, "nation").df
    out = nat.select(
        F.col("n_nationkey"),
        (3 * (F.col("n_nationkey") + 1)).cast("int").alias("ac"),
        F.lit(500).cast("int").alias("an"),
    )
    out = out.withColumn(
        "faf", F.round(hx.filtering_allele_frequency("ac", "an", 0.95), 9)
    )
    return out.orderBy("n_nationkey")


_FAF_SQL = """
WITH m(ac, faf) AS (VALUES
  (3, 0.00163457), (6, 0.0052254), (9, 0.00939028), (12, 0.01384773),
  (15, 0.01849168), (18, 0.0232677), (21, 0.02814399), (24, 0.03309784),
  (27, 0.03811579), (30, 0.0431876), (33, 0.04830469), (36, 0.05346203),
  (39, 0.05865344), (42, 0.0638753), (45, 0.0691253), (48, 0.07439956),
  (51, 0.07969682), (54, 0.08501448), (57, 0.09035099), (60, 0.09570404),
  (63, 0.10107367), (66, 0.1064586), (69, 0.11185665), (72, 0.11726779),
  (75, 0.12269117))
SELECT n.n_nationkey, CAST(3 * (n.n_nationkey + 1) AS INT) AS ac,
       CAST(500 AS INT) AS an, CAST(m.faf AS DOUBLE) AS faf
FROM nation n JOIN m ON 3 * (n.n_nationkey + 1) = m.ac
ORDER BY n.n_nationkey
"""


def lambda_gc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.lambda_gc (ref statgen.py:3097): genomic inflation factor of a
    deterministic p-value column — one distributed aggregate (exact
    median of qchisqtail(p,1)).  The chi² quantile has no SQL form, so
    the p-set is built SYMMETRIC (p ∪ 1-p ∪ {0.5}, odd count): its
    median is exactly 0.5 at every scale factor, hence λ = 1.0 by the
    identity qchisqtail(med,1)/qchisqtail(0.5,1) — a corpus-independent
    pin that still exercises the full distributed-median + quantile
    path (a wrong median or quantile breaks it)."""
    from hail_spark.methods.misc import lambda_gc

    ev = _t(spark, sf_dir, "events").df
    p = ((F.col("event_id") % 9999) + 1) / 10000.0
    # One scan + explode instead of two scans of the same file.
    df = ev.select(
        F.explode(F.array(p, 1.0 - p)).alias("p")
    ).unionAll(ev.sparkSession.range(1).select(F.lit(0.5).alias("p")))
    lam = lambda_gc(df, "p", approximate=False)
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tested"),
        F.round(F.percentile(F.col("p"), F.lit(0.5)), 9).alias("med_p"),
    ).withColumn("lam", F.round(F.lit(lam), 7))


_LAMBDA_GC_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_tested,
       CAST(ROUND(MEDIAN(p), 9) AS DOUBLE) AS med_p,
       CAST(1.0 AS DOUBLE) AS lam
FROM (SELECT ((event_id % 9999) + 1) / 10000.0 AS p FROM events
      UNION ALL
      SELECT 1.0 - ((event_id % 9999) + 1) / 10000.0 AS p FROM events
      UNION ALL SELECT 0.5)
"""


def random_mating_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.simulate_random_mating (ref relatedness/mating_simulation.py:7)
    on an all-homozygous founder matrix: allele draws from hom parents
    are deterministic, so one round of mating is exactly SQL-replayable
    given the (seeded, driver-side) pedigree, which the oracle pins as
    a VALUES list."""
    from hail_spark.matrixtable import ENTRIES, MatrixTable
    from hail_spark.methods.relatedness import simulate_random_mating

    nat = _t(spark, sf_dir, "nation").df
    rows = nat.select(
        F.struct(
            F.lit("1").alias("contig"),
            (F.col("n_nationkey") + 1).alias("position"),
        ).alias("locus"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda j: F.struct(
                (2 * F.pmod(F.col("n_nationkey") + j, F.lit(2))).cast("int").alias("GT")
            ),
        ).alias(ENTRIES),
    )
    mt = MatrixTable(rows, ("locus",), [{"s": f"s{j}"} for j in range(4)], ("s",))
    out = simulate_random_mating(
        mt, n_rounds=1, generation_size_multiplier=1.5, keep_founders=True, seed=11
    )
    long = out.entries().df
    return long.select(
        F.col("locus")["position"].alias("pos"), "s", "GT"
    ).orderBy("pos", "s")


_RANDOM_MATING_SQL = """
WITH js(j) AS (VALUES (0), (1), (2), (3)),
founders AS (
  SELECT n.n_nationkey + 1 AS pos, 'generation_0_idx_' || j AS s,
         CAST(2 * ((n.n_nationkey + j) % 2) AS INT) AS gt
  FROM nation n CROSS JOIN js
),
ped(i, mi, fi) AS (VALUES (0,3,3), (1,3,1), (2,1,3), (3,1,0), (4,3,2), (5,1,0)),
kids AS (
  SELECT n.n_nationkey + 1 AS pos, 'generation_1_idx_' || p.i AS s,
         CAST(((n.n_nationkey + p.mi) % 2) + ((n.n_nationkey + p.fi) % 2) AS INT) AS gt
  FROM nation n CROSS JOIN ped p
)
SELECT pos, s, gt AS "GT" FROM founders
UNION ALL SELECT pos, s, gt FROM kids
ORDER BY pos, s
"""


def pc_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.pc_project (ref experimental/pca.py:13): project
    a call matrix onto per-variant loadings+af carried on a keyed
    table.  One broadcast join + k elementwise array-sum aggregates
    (map-side combine); SQL replay is three weighted sums."""
    from hail_spark import experimental as hx
    from hail_spark.matrixtable import MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) % 3).cast("int").alias("GT")
    )
    mt = MatrixTable.from_long(
        long, row_key=["user_id"], col_key="event_type", entry_fields=["GT"]
    )
    users = mt._df.select("user_id")
    loadings = users.select(
        "user_id",
        F.array(
            ((F.col("user_id") * 7) % 11).cast("double") / 11.0,
            ((F.col("user_id") * 13) % 17).cast("double") / 17.0,
            ((F.col("user_id") * 3) % 5).cast("double") / 5.0,
        ).alias("loadings"),
        (0.25 + (F.col("user_id") % 5).cast("double") / 10.0).alias("af"),
    )
    out = hx.pc_project(mt, loadings)
    return out.select(
        F.col("event_type").alias("s"),
        *[F.round(F.element_at("scores", i + 1), 9).alias(f"pc{i}") for i in range(3)],
    ).orderBy("s")


_PC_PROJECT_SQL = """
WITH long AS (SELECT user_id, event_type, CAST(COUNT(*) % 3 AS INT) gt
              FROM events GROUP BY 1, 2),
users AS (SELECT DISTINCT user_id FROM long),
m AS (SELECT COUNT(*) AS m FROM users),
ld AS (
  SELECT user_id,
         CAST((user_id * 7) % 11 AS DOUBLE) / 11.0 AS l0,
         CAST((user_id * 13) % 17 AS DOUBLE) / 17.0 AS l1,
         CAST((user_id * 3) % 5 AS DOUBLE) / 5.0 AS l2,
         0.25 + CAST(user_id % 5 AS DOUBLE) / 10.0 AS af
  FROM users),
norm AS (
  SELECT l.event_type,
         (l.gt - 2.0 * d.af) / SQRT(mm.m * 2.0 * d.af * (1.0 - d.af)) AS gn,
         d.l0, d.l1, d.l2
  FROM long l JOIN ld d ON l.user_id = d.user_id CROSS JOIN m mm
  WHERE d.af > 0 AND d.af < 1)
SELECT event_type AS s,
       ROUND(SUM(l0 * gn), 9) AS pc0,
       ROUND(SUM(l1 * gn), 9) AS pc1,
       ROUND(SUM(l2 * gn), 9) AS pc2
FROM norm GROUP BY event_type ORDER BY s
"""


def sparse_split_multi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.sparse_split_multi (ref
    sparse_mt/sparse_split_multi.py): a 3-allele local-allele matrix
    (LGT/LA/LAD/LPL derived deterministically from event counts) splits
    into biallelic rows; with 2 local alleles the PL downcode is the
    identity map, so every entry field is exactly SQL-replayable,
    including the not-in-LA hom-ref downcode and GQ-from-PL."""
    from hail_spark import experimental as hx
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    entry = F.struct(
        F.lit(None).cast("int").alias("GT"),
        F.array(F.lit(0), (n % 2).cast("int")).alias("LGT"),
        F.array(F.lit(0), (1 + n % 2).cast("int")).alias("LA"),
        F.lit(False).alias("phased"),
        F.array((n % 5).cast("int"), ((n / 2).cast("int") % 5)).alias("LAD"),
        (n % 20).cast("int").alias("DP"),
        (n % 50).cast("int").alias("GQ"),
        F.array((n % 10).cast("int"), F.lit(0), (n % 7 + 1).cast("int")).alias("LPL"),
    )
    mt0 = MatrixTable.from_long(
        long.select("user_id", "event_type", entry.alias("e")).select(
            "user_id", "event_type", F.col("e.*")
        ),
        row_key=["user_id"],
        col_key="event_type",
        entry_fields=["GT", "LGT", "LA", "phased", "LAD", "DP", "GQ", "LPL"],
    )
    rows = mt0._df.select(
        F.struct(
            F.lit("1").alias("contig"), F.col("user_id").cast("int").alias("position")
        ).alias("locus"),
        F.array(F.lit("A"), F.lit("C"), F.lit("G")).alias("alleles"),
        F.col(ENTRIES),
    )
    vmt = MatrixTable(rows, ("locus", "alleles"), mt0._cols, mt0._col_key)
    out = hx.sparse_split_multi(vmt)
    long_out = out.entries().df
    return long_out.select(
        F.col("locus")["position"].alias("pos"),
        F.array_join("alleles", ",").alias("alleles"),
        "a_index",
        "was_split",
        F.col("event_type").alias("s"),
        "GT",
        F.array_join(F.transform("AD", lambda x: x.cast("string")), ",").alias("ad"),
        "DP",
        "GQ",
        F.array_join(F.transform("PL", lambda x: x.cast("string")), ",").alias("pl"),
    ).orderBy("pos", "a_index", "s")


_SPARSE_SPLIT_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
users AS (SELECT DISTINCT user_id FROM long),
types AS (SELECT DISTINCT event_type FROM long),
alts(a_index, alt) AS (VALUES (1, 'C'), (2, 'G')),
grid AS (SELECT u.user_id, t.event_type, a.a_index, a.alt
         FROM users u CROSS JOIN types t CROSS JOIN alts a),
e AS (
  SELECT g.user_id, g.event_type, g.a_index, g.alt,
         l.n,
         CASE WHEN l.n IS NULL THEN NULL ELSE 1 + l.n % 2 END AS la1,
         CAST(l.n % 5 AS INT) AS lad0,
         CAST((l.n // 2) % 5 AS INT) AS lad1,
         CAST(l.n % 20 AS INT) AS dp,
         CAST(l.n % 50 AS INT) AS gq0,
         CAST(l.n % 10 AS INT) AS pl0,
         0 AS pl1,
         CAST(l.n % 7 + 1 AS INT) AS pl2,
         CAST(l.n % 2 AS INT) AS lgt1
  FROM grid g LEFT JOIN long l
    ON g.user_id = l.user_id AND g.event_type = l.event_type),
split AS (
  SELECT user_id, event_type, a_index, alt, n,
         CASE WHEN n IS NULL THEN NULL
              WHEN la1 = a_index THEN CASE WHEN lgt1 = 1 THEN 1 ELSE 0 END
              ELSE 0 END AS gt,
         CASE WHEN n IS NULL THEN NULL
              WHEN la1 = a_index THEN CAST(lad0 AS VARCHAR) || ',' || CAST(lad1 AS VARCHAR)
              ELSE CAST(lad0 + lad1 AS VARCHAR) || ',0' END AS ad,
         dp,
         CASE WHEN n IS NULL THEN NULL
              WHEN la1 = a_index THEN
                (pl0 + pl1 + pl2 - LEAST(pl0, pl1, pl2) - GREATEST(pl0, pl1, pl2))
                - LEAST(pl0, pl1, pl2)
              ELSE gq0 END AS gq,
         CASE WHEN n IS NULL THEN NULL
              WHEN la1 = a_index THEN
                CAST(pl0 AS VARCHAR) || ',' || CAST(pl1 AS VARCHAR) || ',' || CAST(pl2 AS VARCHAR)
              ELSE NULL END AS pl
  FROM e)
SELECT CAST(user_id AS INT) AS pos,
       'A,' || alt AS alleles,
       a_index, TRUE AS was_split, event_type AS s,
       gt AS "GT", ad, dp AS "DP", gq AS "GQ", pl
FROM split
ORDER BY pos, a_index, s
"""


def densify_sparse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.densify (ref sparse_mt/densify.py:4): reference
    blocks (END entries) fill missing variant-site entries for covered
    samples; END is dropped.  The fill is the VDS banded interval join
    — SQL-replayable as one coverage-predicate join."""
    from hail_spark import experimental as hx
    from hail_spark.matrixtable import ENTRIES, MatrixTable

    ev = _t(spark, sf_dir, "events").df
    long = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    ref_e = F.when(
        n % 2 == 0,
        F.struct(
            F.lit(None).cast("int").alias("GT"),
            (n % 30).cast("int").alias("DP"),
            (F.col("user_id") * 10 + n % 5).cast("int").alias("END"),
        ),
    )
    var_e = F.when(
        n % 3 == 0,
        F.struct(
            (n % 5 % 3).cast("int").alias("GT"),
            (n % 7).cast("int").alias("DP"),
            F.lit(None).cast("int").alias("END"),
        ),
    )
    mt_ref = MatrixTable.from_long(
        long.select("user_id", "event_type", ref_e.alias("e")).select(
            "user_id", "event_type", F.col("e.*")
        ),
        row_key=["user_id"], col_key="event_type",
        entry_fields=["GT", "DP", "END"],
    )
    mt_var = MatrixTable.from_long(
        long.select("user_id", "event_type", var_e.alias("e")).select(
            "user_id", "event_type", F.col("e.*")
        ),
        row_key=["user_id"], col_key="event_type",
        entry_fields=["GT", "DP", "END"],
    )
    assert [c["event_type"] for c in mt_ref._cols] == [
        c["event_type"] for c in mt_var._cols
    ]
    # from_long emits structs-of-nulls for absent pairs; densify fills
    # only NULL entries, so nullify the empties first
    nullify = F.transform(
        F.col(ENTRIES),
        lambda e: F.when(
            e["GT"].isNotNull() | e["DP"].isNotNull() | e["END"].isNotNull(), e
        ),
    )
    ref_rows = mt_ref._df.select(
        F.struct(
            F.lit("1").alias("contig"),
            (F.col("user_id") * 10).cast("int").alias("position"),
        ).alias("locus"),
        F.array(F.lit("N"), F.lit("<NON_REF>")).alias("alleles"),
        nullify.alias(ENTRIES),
    )
    var_rows = mt_var._df.select(
        F.struct(
            F.lit("1").alias("contig"),
            (F.col("user_id") * 10 + 3).cast("int").alias("position"),
        ).alias("locus"),
        F.array(F.lit("A"), F.lit("T")).alias("alleles"),
        nullify.alias(ENTRIES),
    )
    merged = ref_rows.unionByName(var_rows)
    mt = MatrixTable(merged, ("locus", "alleles"), mt_ref._cols, ("event_type",))
    out = hx.densify(mt)
    long_out = out.entries().df
    return long_out.select(
        F.col("locus")["position"].alias("pos"),
        F.array_join("alleles", ",").alias("alleles"),
        F.col("event_type").alias("s"),
        "GT",
        "DP",
    ).orderBy("pos", "s")


_DENSIFY_SQL = """
WITH long AS (SELECT user_id, event_type, COUNT(*) n FROM events GROUP BY 1, 2),
users AS (SELECT DISTINCT user_id FROM long),
types AS (SELECT DISTINCT event_type FROM long),
grid AS (SELECT u.user_id, t.event_type FROM users u CROSS JOIN types t),
e AS (
  SELECT g.user_id, g.event_type, l.n FROM grid g
  LEFT JOIN long l ON g.user_id = l.user_id AND g.event_type = l.event_type),
refrows AS (
  SELECT CAST(user_id * 10 AS INT) AS pos, 'N,<NON_REF>' AS alleles, event_type AS s,
         CAST(NULL AS INT) AS gt,
         CASE WHEN n IS NOT NULL AND n % 2 = 0 THEN CAST(n % 30 AS INT) END AS dp
  FROM e),
varrows AS (
  SELECT CAST(user_id * 10 + 3 AS INT) AS pos, 'A,T' AS alleles, event_type AS s,
    CASE WHEN n IS NOT NULL AND n % 3 = 0 THEN CAST(n % 5 % 3 AS INT)
         ELSE NULL END AS gt,
    CASE WHEN n IS NOT NULL AND n % 3 = 0 THEN CAST(n % 7 AS INT)
         WHEN n IS NOT NULL AND n % 2 = 0 AND n % 5 >= 3 THEN CAST(n % 30 AS INT)
         ELSE NULL END AS dp
  FROM e)
SELECT pos, alleles, s, gt AS "GT", dp AS "DP" FROM refrows
UNION ALL SELECT pos, alleles, s, gt, dp FROM varrows
ORDER BY pos, s
"""


def import_matrix_table_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.import_matrix_table (ref impex.py:1974): text-matrix import
    round trip — a TSV generated from the nation table (with NA
    missing cells) imports as row-field + entries array; the oracle
    recomputes the cells from nation directly."""
    import os

    from hail_spark.io.impex import import_matrix_table

    nat_rows = _t(spark, sf_dir, "nation").df.orderBy("n_nationkey").collect()
    path = _stage("imt", sf_dir) + ".tsv"
    with open(path, "w") as f:
        f.write("gene\tS0\tS1\tS2\n")
        for r in nat_rows:
            k = r["n_nationkey"]
            cells = [
                "NA" if (k + j) % 5 == 0 else str((k * 3 + j) % 7) for j in range(3)
            ]
            f.write(f"n{k:02d}\t" + "\t".join(cells) + "\n")
    mt = import_matrix_table(
        spark, path, row_fields={"gene": "str"}, row_key=["gene"], entry_type="int"
    )
    long = mt.entries().df
    return long.select("gene", "col_id", "x").orderBy("gene", "col_id")


_IMT_SQL = """
WITH js(j) AS (VALUES (0), (1), (2))
SELECT 'n' || CASE WHEN n_nationkey < 10 THEN '0' ELSE '' END || CAST(n_nationkey AS VARCHAR) AS gene,
       'S' || CAST(j AS VARCHAR) AS col_id,
       CASE WHEN (n_nationkey + j) % 5 = 0 THEN NULL
            ELSE CAST((n_nationkey * 3 + j) % 7 AS INT) END AS x
FROM nation CROSS JOIN js
ORDER BY gene, col_id
"""


def export_entries_by_col_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hl.experimental.export_entries_by_col (ref
    export_entries_by_col.py:9): one partitioned distributed write
    fanning out per-column TSV directories, then read back — the
    oracle recomputes the long table from events."""
    import os

    from hail_spark import experimental as hx

    mt = _events_mt(spark, sf_dir)
    out_dir = _stage("eebc", sf_dir)
    hx.export_entries_by_col(mt, out_dir)
    back = (
        spark.read.option("sep", "\t").option("header", True).csv(out_dir)
    )
    return back.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("v").cast("decimal(38,6)").cast("double").alias("v"),
        F.col("n").cast("bigint").alias("n"),
    ).where(F.col("v").isNotNull()).orderBy("user_id", "event_type")


_EEBC_SQL = """
SELECT user_id, event_type,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v,
       COUNT(*) AS n
FROM events GROUP BY 1, 2 ORDER BY user_id, event_type
"""


def jsonl_round_trip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL connector round trip (io/impex.py import_jsonl /
    export_jsonl — the LLM-corpus interchange format): documents ->
    newline-delimited JSON in staging -> schema'd re-import -> per-source
    census. The oracle computes the census straight from the parquet,
    so any serialization loss (nulls, unicode, longs) breaks the row."""
    import os

    from hail_spark.io.impex import export_jsonl, import_jsonl

    d = _t(spark, sf_dir, "documents").df
    path = _stage("jsonl", sf_dir)
    export_jsonl(d, path, n_files=4)
    back = import_jsonl(
        spark, path,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).df
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.length("text")).alias("sum_text_len"),
        )
        .orderBy("source")
    )


_JSONL_RT_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
FROM documents GROUP BY source ORDER BY source
"""


def q4_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS decorrelated to a left-semi join): count
    orders per priority, within a date window, that have at least one
    line item shipped after the order date. The semi-join probes only
    the order keys (no row duplication); the priority groupBy is a tiny
    hash agg on top."""
    o = _t(spark, sf_dir, "orders").df
    li = _t(spark, sf_dir, "lineitem").df
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    window = o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    late = li.join(
        window.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == window["o_orderkey"],
    ).filter(F.col("l_shipdate") > F.col("o_orderdate")).select("o_orderkey").distinct()
    return (
        window.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q10_returns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    a quarter, top 20. Fact-fact join shuffles on the order key once;
    customer and nation dims ride broadcast joins; top-k is a
    TakeOrdered (no global sort)."""
    c = _t(spark, sf_dir, "customer").df
    o = _t(spark, sf_dir, "orders").df
    li = _t(spark, sf_dir, "lineitem").df
    n = _t(spark, sf_dir, "nation").df
    lo = F.lit("1996-07-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
            .select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        # customer scales with SF (unbounded at 100 TB) — no forced
        # broadcast; AQE picks broadcast when the filtered side fits.
        # nation is 25 rows: hint stays.
        rev.join(c, rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"),
            F.round("revenue", 6).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
             AS DOUBLE), 6) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q14_promo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share over one month — part
    join (AQE-sized) + one conditional aggregate (both sums in a single
    hash-agg pass)."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df
    lo = F.lit("1996-03-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    # part scales with SF — no forced broadcast (AQE decides); the
    # 2-column projection keeps the build side minimal either way
    j = li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)).join(
        p.select("p_partkey", "p_type"),
        li["l_partkey"] == p["p_partkey"],
    )
    return j.agg(
        F.round(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,6)")))
                * 100.0
                / F.sum(rev)
            ).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


_Q14_SQL = """
SELECT round(CAST(
         SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
             ELSE CAST(0 AS DECIMAL(38,6)) END) * 100.0
         / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
       AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q19_disjunct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicates.
    The part-side conjuncts (brand, size) stay on the part dim;
    the common quantity bound pushes to the lineitem scan; the OR of
    brand-specific quantity bands evaluates post-join in one codegen
    stage."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df
    dims = p.filter(
        (F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_size")
    # part scales with SF — no forced broadcast (AQE decides)
    j = li.filter(F.col("l_quantity") <= 30).join(
        dims, li["l_partkey"] == p["p_partkey"]
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") <= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(5, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(10, 30))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).cast("double"),
            6,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q19_SQL = """
SELECT round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
             AS DOUBLE), 6) AS revenue,
       COUNT(*) AS n_items
FROM lineitem, part
WHERE l_partkey = p_partkey AND p_size <= 15
  AND ((p_brand = 'Brand#1' AND l_quantity <= 10)
    OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 5 AND 20)
    OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 10 AND 30))
"""


def q7_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume — lineitem joined
    through BOTH dimension chains (supplier→nation and
    orders→customer→nation), different-nation filter, grouped by the
    nation pair and ship year. The two nation lookups broadcast (25
    rows); supplier/customer scale with SF so no hint — AQE sizes
    them."""
    li = _t(spark, sf_dir, "lineitem").df
    s = _t(spark, sf_dir, "supplier").df
    o = _t(spark, sf_dir, "orders").df
    c = _t(spark, sf_dir, "customer").df
    n = _t(spark, sf_dir, "nation").df.filter(F.col("n_nationkey") < 5)
    n1 = n.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    j = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), "s_nationkey")
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), "c_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
             AS DOUBLE), 6) AS revenue
FROM lineitem, supplier, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND n1.n_nationkey < 5 AND n2.n_nationkey < 5
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q8_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of ECONOMY-part
    revenue sold to customers of one region, per order year — the
    conditional-share-of-aggregate pattern (two sums in ONE hash agg,
    never two scans)."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df.filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier").df
    o = _t(spark, sf_dir, "orders").df
    c = _t(spark, sf_dir, "customer").df
    n = _t(spark, sf_dir, "nation").df
    r = _t(spark, sf_dir, "region").df.filter(F.col("r_name") == "ASIA")
    n_s = n.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n_c = n.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").alias("c_regionkey"),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    j = (
        li.join(p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), "s_nationkey")
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), "c_nationkey")
        .join(
            F.broadcast(r.select(F.col("r_regionkey").alias("c_regionkey"))),
            "c_regionkey",
        )
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero)).cast("double")
                    / F.sum(rev).cast("double")
                ),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       round(CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                  ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem, part, supplier, orders, customer, nation n1, nation n2, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND p_type = 'ECONOMY'
GROUP BY 1 ORDER BY 1
"""


def q9_profit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product profit by supplier nation and year.
    The reference schema's partsupp.ps_supplycost is absent from the
    testdata, so cost is proxied as 0.1 * p_retailprice * l_quantity —
    the join/agg shape (part name filter, supplier→nation, year split)
    is the point."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df.filter(F.col("p_name").like("%a%"))
    s = _t(spark, sf_dir, "supplier").df
    o = _t(spark, sf_dir, "orders").df
    n = _t(spark, sf_dir, "nation").df.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation")
    )
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    ) - (F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(38,6)"
    )
    j = (
        li.join(p.select("p_partkey", "p_retailprice"), F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), "s_nationkey")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount).cast("double"), 6).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q9_SQL = """
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                      - CAST(0.1 * p_retailprice * l_quantity AS DECIMAL(38,6)))
             AS DOUBLE), 6) AS sum_profit
FROM lineitem, part, supplier, orders, nation
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%a%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q13_custdist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — a
    LEFT join (zero-order customers must survive) into two stacked
    hash aggregations; the priority filter plays the original's
    comment-pattern exclusion."""
    c = _t(spark, sf_dir, "customer").df
    o = _t(spark, sf_dir, "orders").df.filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.select("c_custkey")
        .join(o.select("o_orderkey", "o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum 3-month revenue —
    revenue agg per supplier, scalar max broadcast back, equality on
    the EXACT decimal totals (ties kept, like the spec's view form)."""
    li = _t(spark, sf_dir, "lineitem").df
    s = _t(spark, sf_dir, "supplier").df
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    rev = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("max_rev"))
        .join(s.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 6).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       round(CAST(total_rev AS DOUBLE), 6) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
ORDER BY s_suppkey
"""


def q16_supplier_cnt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, size) for a
    size list, excluding one brand and a supplier denylist. The
    part-supplier bridge is distinct (l_partkey, l_suppkey) pairs from
    lineitem (testdata has no partsupp); the denylist (negative
    acctbal, playing the original's complaints pattern) is an
    anti-join BEFORE the distinct-count agg."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df
    s = _t(spark, sf_dir, "supplier").df
    sizes = [1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49]
    bridge = li.select("l_partkey", "l_suppkey").distinct()
    bad = s.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    parts = p.filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(sizes)
    ).select("p_partkey", "p_brand", "p_size")
    return (
        bridge.join(bad, "l_suppkey", "left_anti")
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


_Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


def q17_small_qty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-average-quantity orders of
    one brand — the correlated avg subquery DECORRELATED to a per-part
    aggregate joined back (one extra hash agg instead of a rescan per
    row)."""
    li = _t(spark, sf_dir, "lineitem").df
    p = _t(spark, sf_dir, "part").df.filter(F.col("p_brand") == "Brand#2")
    avg_q = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    j = (
        li.join(p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, "p_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(
        F.round(
            F.coalesce(
                F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double"),
                F.lit(0.0),
            )
            / 7.0,
            6,
        ).alias("avg_yearly")
    )


_Q17_SQL = """
SELECT round(COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 0.0)
             / 7.0, 6) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


def q18_large_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — HAVING sum(qty) > 200 on
    the order key, joined back to orders+customer, top 20 by total
    price. The having-agg runs FIRST so only qualifying keys join."""
    li = _t(spark, sf_dir, "lineitem").df
    o = _t(spark, sf_dir, "orders").df
    c = _t(spark, sf_dir, "customer").df
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 200.0)
    )
    return (
        big.join(o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"), "o_orderkey")
        .join(c.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _micros("o_orderdate").alias("o_date_us"),
            "o_totalprice",
            F.round("sum_qty", 6).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
       o_totalprice, round(CAST(sq AS DOUBLE), 6) AS sum_qty
FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sq
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 200.0) b
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q22_dormant_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO recent
    orders, counted per country code — scalar-aggregate threshold
    (exact decimal avg, broadcast as one row) + anti-join against the
    recent-orders keys + final hash agg. cntrycode is nationkey % 10
    (testdata has no phone column)."""
    c = _t(spark, sf_dir, "customer").df
    o = _t(spark, sf_dir, "orders").df
    cutoff = F.lit("2000-07-01 00:00:00").cast("timestamp")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("avg_bal")
        )
    )
    recent = o.filter(F.col("o_orderdate") >= cutoff).select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    # lit-key equi-join (not a bare cross join) so the 1-row scalar
    # attaches via BroadcastHashJoin — keeps the cartesian audit clean
    return (
        c.withColumn("__k", F.lit(1))
        .join(F.broadcast(thr.withColumn("__k", F.lit(1))), "__k")
        .drop("__k")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double"), 6
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


_Q22_SQL = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) / COUNT(*) AS DOUBLE) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey % 10 AS cntrycode, COUNT(*) AS numcust,
       round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 6) AS totacctbal
FROM customer, thr
WHERE c_acctbal > avg_bal
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# TPC-H completion set (q2, q11, q12, q20, q21). The testdata has no
# partsupp / shipmode / commit+receipt dates, so those columns are
# SYNTHESIZED deterministically from existing keys (identical formulas
# in the SQL oracles) — the JOIN/decorrelation SHAPES, which are the
# point of these queries, are unchanged:
#   ps_supplycost = ((l_partkey*31 + l_suppkey*17) % 1000)/10.0 + 1.0
#   ps_availqty   = (l_partkey*7 + l_suppkey*13) % 9999 + 1
#   shipmode      = MAIL|SHIP|RAIL by l_suppkey % 3
#   late          = receipt_off (l_orderkey % 30) > commit_off (l_partkey % 20)
# --------------------------------------------------------------------------

def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").df
    return (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            (
                ((F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 1000)
                / 10.0
                + 1.0
            ).alias("ps_supplycost"),
            (
                (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 9999 + 1
            ).cast("int").alias("ps_availqty"),
        )
    )


_PARTSUPP_CTE = """
partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         ((l_partkey * 31 + l_suppkey * 17) % 1000) / 10.0 + 1.0
           AS ps_supplycost,
         CAST((l_partkey * 7 + l_suppkey * 13) % 9999 + 1 AS INT)
           AS ps_availqty
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
"""


def q2_min_cost_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within one
    region — the correlated MIN subquery DECORRELATED to a per-part
    min agg joined back on cost equality (ties kept, like the spec);
    region/nation broadcast, supplier/partsupp scale with SF."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").df
    n = _t(spark, sf_dir, "nation").df
    r = _t(spark, sf_dir, "region").df.filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").df.filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") % 5 == 0)
    )
    nr = n.join(
        F.broadcast(r.select(F.col("r_regionkey").alias("n_regionkey"))),
        "n_regionkey",
    ).select("n_nationkey", "n_name")
    sx = s.join(
        F.broadcast(nr), s["s_nationkey"] == nr["n_nationkey"]
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    j = (
        ps.join(p.select("p_partkey"), ps["ps_partkey"] == p["p_partkey"])
        .join(sx, ps["ps_suppkey"] == sx["s_suppkey"])
    )
    mn = j.groupBy("p_partkey").agg(F.min("ps_supplycost").alias("__min_cost"))
    return (
        j.join(mn, "p_partkey")
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.round("ps_supplycost", 6).alias("min_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


_Q2_SQL = (
    "WITH " + _PARTSUPP_CTE + """
SELECT s_acctbal, s_name, n_name, p_partkey,
       round(ps_supplycost, 6) AS min_cost
FROM partsupp, part, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_type = 'ECONOMY' AND p_size % 5 = 0
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps_supplycost) FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20
"""
)


def q11_stock_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important stock — per-part inventory value
    within a supplier group, kept when above a FRACTION OF THE GLOBAL
    TOTAL (scalar aggregate attached by lit-key broadcast hash join,
    the decorrelated HAVING-subquery form). Decimal value sums keep
    the threshold comparison exact."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").df.filter(
        F.col("s_nationkey") % 5 == 2
    )
    val = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(38,6)")
    j = ps.join(
        s.select("s_suppkey"), ps["ps_suppkey"] == s["s_suppkey"]
    ).select("ps_partkey", val.alias("__v"))
    per = j.groupBy("ps_partkey").agg(F.sum("__v").alias("__pv"))
    tot = j.agg((F.sum("__v") * F.lit(0.001)).alias("__thr")).withColumn(
        "__k", F.lit(1)
    )
    return (
        per.withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
        .filter(F.col("__pv") > F.col("__thr"))
        .select(
            "ps_partkey",
            F.round(F.col("__pv").cast("double"), 6).alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


_Q11_SQL = (
    "WITH " + _PARTSUPP_CTE + """
SELECT ps_partkey,
       round(CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6)))
             AS DOUBLE), 6) AS stock_value
FROM partsupp, supplier
WHERE ps_suppkey = s_suppkey AND s_nationkey % 5 = 2
GROUP BY ps_partkey
HAVING SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) > (
  SELECT SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) * 0.001
  FROM partsupp, supplier
  WHERE ps_suppkey = s_suppkey AND s_nationkey % 5 = 2)
ORDER BY stock_value DESC, ps_partkey
"""
)


def q12_shipmode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority counts by ship mode —
    one fact-fact join plus a two-way conditional aggregate (both
    counts in ONE hash agg). shipmode and the commit/receipt offsets
    are deterministic syntheses (header note)."""
    li = _t(spark, sf_dir, "lineitem").df
    o = _t(spark, sf_dir, "orders").df
    mode = (
        F.when(F.col("l_suppkey") % 3 == 0, "MAIL")
        .when(F.col("l_suppkey") % 3 == 1, "SHIP")
        .otherwise("RAIL")
    )
    late = (F.col("l_orderkey") % 30) > (F.col("l_partkey") % 20)
    j = (
        li.withColumn("shipmode", mode)
        .filter(F.col("shipmode").isin("MAIL", "SHIP") & late)
        .join(
            o.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("shipmode")
        .agg(
            F.sum(high.cast("bigint")).alias("high_line_count"),
            F.sum((~high).cast("bigint")).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


_Q12_SQL = """
SELECT CASE WHEN l_suppkey % 3 = 0 THEN 'MAIL'
            WHEN l_suppkey % 3 = 1 THEN 'SHIP' ELSE 'RAIL' END AS shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_suppkey % 3 IN (0, 1)
  AND (l_orderkey % 30) > (l_partkey % 20)
GROUP BY 1 ORDER BY 1
"""


def q20_potential_promo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with excess stock of promo-candidate
    parts — the nested IN subqueries decorrelated to (1) a per-
    (part, supplier) shipped-quantity agg over the window, (2) an
    inner join to partsupp with the availqty > 0.5*qty filter, (3) a
    left-semi join onto supplier."""
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").df
    s = _t(spark, sf_dir, "supplier").df
    p = _t(spark, sf_dir, "part").df.filter(F.col("p_name").like("blue%"))
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    shipped = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("__qty")
        )
    )
    excess = (
        ps.join(shipped, ["ps_partkey", "ps_suppkey"])
        .join(p.select("p_partkey"), ps["ps_partkey"] == p["p_partkey"])
        .filter(F.col("ps_availqty") > 0.5 * F.col("__qty"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        s.join(excess, "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 6).alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


_Q20_SQL = (
    "WITH " + _PARTSUPP_CTE + """
SELECT s_suppkey, s_name, round(s_acctbal, 6) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
    AND ps_availqty > 0.5 * (
      SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
      FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'))
ORDER BY s_suppkey
"""
)


def q21_waiting_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier order — the EXISTS + NOT EXISTS pair decorrelated
    into one per-order aggregate (distinct suppliers, distinct late
    suppliers) joined back to the late lineitems; count per supplier,
    top 20."""
    li = _t(spark, sf_dir, "lineitem").df
    o = _t(spark, sf_dir, "orders").df.filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier").df
    late = (F.col("l_orderkey") % 30) > (F.col("l_partkey") % 20)
    lx = li.withColumn("__late", late.cast("int"))
    per_order = lx.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(
            F.when(F.col("__late") == 1, F.col("l_suppkey"))
        ).alias("__n_late"),
    )
    cand = (
        lx.filter(F.col("__late") == 1)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(per_order, "l_orderkey")
        .filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1))
    )
    return (
        cand.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
WITH lx AS (
  SELECT l_orderkey, l_suppkey, l_partkey,
         CASE WHEN (l_orderkey % 30) > (l_partkey % 20) THEN 1 ELSE 0 END
           AS late
  FROM lineitem),
per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
  FROM lx GROUP BY l_orderkey),
cand AS (
  SELECT DISTINCT lx.l_orderkey, lx.l_suppkey
  FROM lx
  JOIN orders ON o_orderkey = lx.l_orderkey AND o_orderstatus = 'F'
  JOIN per_order USING (l_orderkey)
  WHERE lx.late = 1 AND n_supp > 1 AND n_late = 1)
SELECT s_name, COUNT(*) AS numwait
FROM cand JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""


def session_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (F.session_window, the engine's
    built-in merging session operator — same operator Structured
    Streaming uses with watermarks): per-user sessions that merge
    events closer than a 1 h gap, aggregated in one groupBy. Boundary
    semantics differ from operators/relational.sessionize by design
    (session_window merges on strict <gap from the PREVIOUS EVENT's
    window start: window = [ts, ts+gap) unions); the oracle replays the
    strict-< chain rule arithmetically."""
    ev = _t(spark, sf_dir, "events").df
    out = (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            "user_id",
            _micros("session_window.start").alias("w_start"),
            _micros("session_window.end").alias("w_end"),
            "n_events",
            F.round("value_sum", 6).alias("value_sum"),
        )
    )
    return out.orderBy("user_id", "w_start")


_SESSION_WINDOW_SQL = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events),
 g AS (SELECT *, CASE WHEN ts - lag(ts) OVER w >= 3600000000 THEN 1 ELSE 0 END AS nw
       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
 s AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
       FROM g)
SELECT user_id, MIN(ts) AS w_start, MAX(ts) + 3600000000 AS w_end,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS value_sum
FROM s GROUP BY user_id, sid
ORDER BY user_id, w_start
"""


def hopping_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — ``F.window(ts, '2 hours',
    '30 minutes')``: every event lands in exactly 4 overlapping
    windows on the 30-minute epoch grid (the tumbling batteries only
    cover slide == duration). One explode-free window assignment +
    hash agg; the oracle replays Spark's epoch-aligned window algebra
    arithmetically (w_i = 1800s-grid floor minus i slides)."""
    ev = _t(spark, sf_dir, "events").df
    w = ev.groupBy(
        F.window("ts", "2 hours", "30 minutes").alias("w"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return w.select(
        F.timestamp_diff("MICROSECOND", epoch, F.col("w.start")).alias(
            "w_start"
        ),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("w_start", "event_type")


_HOPPING_WINDOW_SQL = """
WITH e AS (SELECT epoch_us(ts) AS tsu, event_type, value FROM events),
x AS (SELECT ((tsu // 1800000000) - i) * 1800000000 AS w_start,
             event_type, value
      FROM e, unnest(range(4)) AS t(i))
SELECT CAST(w_start AS BIGINT) AS w_start, event_type,
       COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value
FROM x GROUP BY 1, 2 ORDER BY w_start, event_type
"""


def oov_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage / OOV-rate report: build a 500-word corpus
    vocabulary (count-desc, word-asc deterministic tie-break), then one
    explode + broadcast-vocab left-semi-count per document — the
    standard 'how much of my corpus does this tokenizer cover' QA
    table. The vocab is bounded (top-K) so ITS broadcast is safe at any
    corpus size; the corpus side is one hash agg."""
    d = _t(spark, sf_dir, "documents").df
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(500)
        .select("w", F.lit(1).alias("__in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "w", "left")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 9).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


_OOV_RATE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
vocab AS (
  SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
                 ORDER BY cnt DESC, w ASC LIMIT 500)),
j AS (
  SELECT doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v USING (w))
SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
       round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 9) AS oov_rate
FROM j GROUP BY doc_id ORDER BY doc_id
"""


def schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the same table
    — the older written WITHOUT a column that was added later — read as
    one DataFrame with mergeSchema; rows from the old generation
    surface NULL for the added column. The oracle recomputes the
    per-generation aggregate from the source table with the same
    deterministic generation split (o_orderkey % 2)."""
    import shutil

    o = _t(spark, sf_dir, "orders").df
    base = _stage("schema_evo", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    gen0 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    gen1 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    gen0.write.parquet(f"{base}/gen=0")
    gen1.write.parquet(f"{base}/gen=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=0", f"{base}/gen=1"
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("__absent__")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total"),
        )
        .orderBy("priority")
    )


_SCHEMA_EVO_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '__absent__'
            ELSE o_orderpriority END AS priority,
       COUNT(*) AS n,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4)
         AS total
FROM orders GROUP BY 1 ORDER BY 1
"""


def parquet_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-metadata statistics scan (io/query_table.parquet_stats):
    min/max/count answered by the v2 parquet source's
    PushedAggregation — each file contributes only footer stats, no
    row scan (pytest asserts the pushed plan). The oracle computes the
    same stats the honest way."""
    from hail_spark.io.query_table import parquet_stats

    r = parquet_stats(
        spark, f"{sf_dir}/lineitem.parquet", ["l_quantity", "l_extendedprice"]
    )
    return spark.createDataFrame(
        [
            (
                float(r["l_quantity_min"]),
                float(r["l_quantity_max"]),
                float(r["l_extendedprice_min"]),
                float(r["l_extendedprice_max"]),
                int(r["n_rows"]),
            )
        ],
        "q_min double, q_max double, p_min double, p_max double, n_rows bigint",
    )


_PARQUET_STATS_SQL = """
SELECT MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
       MIN(l_extendedprice) AS p_min, MAX(l_extendedprice) AS p_max,
       COUNT(*) AS n_rows
FROM lineitem
"""


def variant_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT columns (Spark 4 parse_json /
    variant_get — the open-variant binary encoding): the raw props
    JSON plus a CONSTRUCTED nested document (to_json of structs) are
    parsed to variant and fields extracted back by path with typed
    casts; try_variant_get returns NULL for a missing path. Round-trip
    identity: extracted values must equal the source columns, so the
    oracle reads the raw columns (+ DuckDB json_extract for props) —
    any drift in the variant encode/decode chain breaks the row."""
    ev = _t(spark, sf_dir, "events").df
    nested = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.col("value").alias("v"),
            F.struct(F.col("user_id").alias("u")).alias("who"),
        )
    )
    v = F.parse_json(nested)
    pv = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(pv, "$.k", "int").alias("k"),
        F.variant_get(v, "$.t", "string").alias("t"),
        F.round(F.variant_get(v, "$.v", "double"), 4).alias("vv"),
        F.variant_get(v, "$.who.u", "bigint").alias("u"),
        F.try_variant_get(pv, "$.missing", "int").alias("missing"),
    ).orderBy("event_id")


_VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       event_type AS t,
       round(value, 4) AS vv,
       user_id AS u,
       CAST(NULL AS INT) AS missing
FROM events ORDER BY event_id
"""


def datetime_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function battery over o_orderdate: extraction fields
    (year/quarter/month/day/dayofyear/ISO week/day-of-week), month
    truncation, end-of-month, add_months, and day arithmetic — each
    with its exact DuckDB replay (Spark dayofweek is 1=Sunday vs
    DuckDB 0=Sunday; Spark weekofyear is the ISO week = DuckDB week).
    Calendar outputs leave as formatted strings so no engine's
    date/timestamp binary encoding is compared."""
    o = _t(spark, sf_dir, "orders").df
    dt = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.trunc(dt, "month"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(dt), "yyyy-MM-dd").alias("last_dom"),
        F.date_format(F.add_months(dt, 2), "yyyy-MM-dd").alias("plus2m"),
        F.datediff(dt, F.lit("1995-01-01").cast("date")).alias("dd"),
    ).orderBy("o_orderkey")


_DATETIME_BATTERY_SQL = """
SELECT o_orderkey,
  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
  CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS doy,
  CAST(week(o_orderdate) AS INT) AS iso_week,
  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_dom,
  strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
    AS dd
FROM orders ORDER BY o_orderkey
"""


def hof_array_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order / collection function battery over the embedding
    arrays: filter/exists/forall predicates, a zip_with+aggregate fold
    (dot of the vector with its reverse), sort+slice top-3, element
    position, flatten, repeat — the §2.9 HOF surface with exact DuckDB
    list-function replays. Elements pre-cast float→double on BOTH
    engines so promotion paths agree."""
    e = _t(spark, sf_dir, "embeddings").df
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    dot_rev = F.aggregate(
        F.zip_with(x, F.reverse(x), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    top3 = F.slice(F.sort_array(x, asc=False), 1, 3)
    return e.select(
        "vec_id",
        F.size(F.filter(x, lambda v: v < 0)).alias("n_neg"),
        F.exists(x, lambda v: v > 2.0).alias("any_big"),
        F.forall(x, lambda v: F.abs(v) < 10.0).alias("all_small"),
        F.round(dot_rev, 6).alias("dot_rev"),
        F.array_join(
            F.transform(top3, lambda v: F.round(v, 5).cast("string")), ","
        ).alias("top3"),
        F.array_position(x, F.array_min(x)).alias("pos_min"),
        F.size(F.flatten(F.array(x, x))).alias("flat2"),
        F.size(F.array_repeat(F.col("label"), 3)).alias("rep3"),
    ).orderBy("vec_id")


_HOF_ARRAY_SQL = """
WITH b AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings)
SELECT vec_id,
  CAST(len(list_filter(x, v -> v < 0)) AS INT) AS n_neg,
  len(list_filter(x, v -> v > 2.0)) > 0 AS any_big,
  len(list_filter(x, v -> abs(v) >= 10.0)) = 0 AS all_small,
  round(list_sum([x[i] * x[len(x) - i + 1] FOR i IN range(1, len(x) + 1)]),
        6) AS dot_rev,
  array_to_string(
    list_transform(list_slice(list_reverse_sort(x), 1, 3),
                   v -> CAST(round(v, 5) AS VARCHAR)), ',') AS top3,
  CAST(list_position(x, list_min(x)) AS BIGINT) AS pos_min,
  CAST(len(flatten([x, x])) AS INT) AS flat2,
  CAST(3 AS INT) AS rep3
FROM b ORDER BY vec_id
"""


def window_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function battery over per-user event streams:
    row_number / ntile / percent_rank / cume_dist / lag / lead /
    first_value / nth_value / running sum / dense_rank — every frame
    keyed by user (partitionBy, never a global single-partition
    window) with a unique (ts, event_id) order so both engines agree
    deterministically. The running sum accumulates in the SAME row
    order on both engines, so double addition is reproducible."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").df.withColumn("tsu", _micros("ts"))
    w = W.partitionBy("user_id").orderBy("tsu", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wval = W.partitionBy("user_id").orderBy("value")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("ntile4"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.lag("value").over(w).alias("lag_v"),
        F.lead("value").over(w).alias("lead_v"),
        F.first_value("value").over(w).alias("first_v"),
        F.nth_value("value", 2).over(w).alias("nth2_v"),
        F.round(F.sum("value").over(wrun), 6).alias("rsum"),
        F.dense_rank().over(wval).alias("drk"),
    ).orderBy("user_id", "rn")


_WINDOW_BATTERY_SQL = """
SELECT user_id, event_id,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(ntile(4) OVER w AS INT) AS ntile4,
       round(percent_rank() OVER w, 9) AS pr,
       round(cume_dist() OVER w, 9) AS cd,
       lag(value) OVER w AS lag_v,
       lead(value) OVER w AS lead_v,
       first_value(value) OVER w AS first_v,
       nth_value(value, 2) OVER w AS nth2_v,
       round(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS rsum,
       CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value) AS INT) AS drk
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
ORDER BY user_id, rn
"""


def cube_battery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional CUBE aggregation (all 4 grouping sets of
    priority × status in ONE pass with map-side partials — the OLAP
    rollup companion to the native rollup query) plus grouping_id to
    disambiguate NULL-as-aggregated from NULL-as-value."""
    o = _t(spark, sf_dir, "orders").df
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"),
                6,
            ).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "o_orderpriority", "o_orderstatus")
    )


_CUBE_BATTERY_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS total_price,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY gid, o_orderpriority, o_orderstatus
"""


def pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot (groupBy().pivot() with an EXPLICIT value list —
    the open-ended form needs a values-discovery pass; pinning the list
    keeps it one hash-agg, no extra job): per-user event value sums by
    type, wide."""
    ev = _t(spark, sf_dir, "events").df
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double"))
    )
    cols = ["click", "view", "purchase", "signup", "error"]
    return out.select(
        "user_id", *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 6).alias(f"v_{c}") for c in cols]
    ).orderBy("user_id")


_PIVOT_SQL = """
SELECT user_id,
  round(CAST(COALESCE(SUM(CASE WHEN event_type='click'    THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE), 6) AS v_click,
  round(CAST(COALESCE(SUM(CASE WHEN event_type='view'     THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE), 6) AS v_view,
  round(CAST(COALESCE(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE), 6) AS v_purchase,
  round(CAST(COALESCE(SUM(CASE WHEN event_type='signup'   THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE), 6) AS v_signup,
  round(CAST(COALESCE(SUM(CASE WHEN event_type='error'    THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE), 6) AS v_error
FROM events GROUP BY user_id ORDER BY user_id
"""


def unpivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native unpivot/melt (DataFrame.unpivot — map-only, no shuffle):
    lineitem numeric measures to long form, then a tiny per-measure
    summary so the oracle is compact."""
    li = _t(spark, sf_dir, "lineitem").df
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .select("measure", "n", F.round("total", 4).alias("total"))
        .orderBy("measure")
    )


_UNPIVOT_SQL = """
WITH long AS (
  SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
SELECT measure, COUNT(*) AS n,
       round(CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE), 4) AS total
FROM long GROUP BY measure ORDER BY measure
"""


def rollup_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ROLLUP with grouping_id (one pass — Spark expands the
    grouping sets map-side, no per-level rescan): order counts and
    totals by (status, priority), (status), and grand total."""
    o = _t(spark, sf_dir, "orders").df
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            F.round("total", 4).alias("total"),
            "gid",
        )
        .orderBy("gid", "status", "priority")
    )


_ROLLUP_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4) AS total,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
"""


def json_props_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: events.props is a JSON string;
    from_json with an explicit schema parses it ONCE per row JVM-side
    (Jackson; an explicit schema also lets Catalyst prune unrequested
    fields), then a per-type aggregate over the extracted key. Oracle:
    DuckDB's JSON extraction over the same column."""
    ev = _t(spark, sf_dir, "events").df
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k int").alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p.k").cast("bigint")).alias("k_sum"),
            F.min("p.k").alias("k_min"),
            F.max("p.k").alias("k_max"),
        )
        .orderBy("event_type")
    )


_JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract(props, '$.k') AS INT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS INT)) AS k_max
FROM events GROUP BY event_type ORDER BY event_type
"""


def distinctive_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source (TF-IDF composition over existing
    primitives): token counts per (source, token) → smoothed idf over
    sources → top-3 tf·idf terms per source via one per-source window
    over the (tiny) aggregated table — the corpus-side work is a single
    explode + hash agg."""
    d = _t(spark, sf_dir, "documents").df
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_sources = d.select("source").distinct().count()
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # no broadcast hint: distinct tokens are corpus-unbounded (billions
    # on web data) — let AQE broadcast only when the build side fits
    scored = tf.join(df_t, "token").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_sources)) + 1.0) / (F.col("df") + 1.0)),
            9,
        ),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "rank", "token", "tfidf")
        .orderBy("source", "rank")
    )


_DISTINCTIVE_TERMS_SQL = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT source, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
ns AS (SELECT COUNT(DISTINCT source) AS n FROM documents),
scored AS (
  SELECT source, token, tf,
         round(tf * ln((n + 1.0) / (df + 1.0)), 9) AS tfidf
  FROM tf JOIN dft USING (token), ns),
r AS (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY tfidf DESC, token ASC) AS rank FROM scored)
SELECT source, CAST(rank AS INT) AS rank, token, tfidf
FROM r WHERE rank <= 3 ORDER BY source, rank
"""


def orc_round_trip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector round trip (Spark-native columnar format beside
    parquet): high-value lineitem columns -> ORC in staging (snappy) ->
    re-read -> per-flag census. Column pruning and predicate pushdown
    work on the ORC scan exactly as on parquet (native vectorized
    reader); the oracle computes the census straight off the parquet,
    so any type/precision loss in the round trip breaks the row."""
    import os

    li = _t(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )
    path = _stage("orc", sf_dir)
    li.write.mode("overwrite").orc(path)
    back = li.sparkSession.read.orc(path).filter(
        F.col("l_quantity") > 10
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_qty"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(38,6)")
                    * (1 - F.col("l_discount").cast("decimal(38,6)"))
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .orderBy("l_returnflag")
    )


_ORC_RT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))
                      * (1 - CAST(l_discount AS DECIMAL(38,6)))) AS DOUBLE), 4) AS revenue,
       MAX(l_shipdate) AS max_ship
FROM lineitem WHERE l_quantity > 10
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def fixed_width_round_trip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width connector round trip (io/impex.py
    import_fixed_width / export_fixed_width — the mainframe-extract
    format the CSV reader can't parse): order keys + status + price
    written as a space-padded layout, re-imported with 1-based
    (start, length) substring projections (pure codegen, no UDF), then
    a per-status census the oracle computes straight off the parquet —
    any column-boundary or padding error breaks the row."""
    import os

    from hail_spark.io.impex import export_fixed_width, import_fixed_width

    o = _t(spark, sf_dir, "orders").df.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _stage("fw", sf_dir)
    export_fixed_width(
        o, path, [("o_orderkey", 12), ("o_orderstatus", 2), ("o_totalprice", 14)],
        n_files=2,
    )
    back = import_fixed_width(
        spark,
        path,
        [
            ("o_orderkey", 1, 12, "bigint"),
            ("o_orderstatus", 13, 2, "string"),
            ("o_totalprice", 15, 14, "double"),
        ],
    ).df
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"), 4
            ).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


_FIXED_WIDTH_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4) AS price_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def dow_seasonality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: mean value per
    (type, weekday) plus each weekday's deviation from the type's
    overall mean — the basic seasonal-decompose read on an event
    stream. Two hash-aggs + one <=7-row per-type window; Spark
    ``dayofweek`` is Sunday=1 (DuckDB's is Sunday=0 — the oracle
    adds 1)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").df.select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.col("value"),
    )
    per = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("__sv"),
    )
    w = Window.partitionBy("event_type")
    overall = F.sum("__sv").over(w) / F.sum("n").over(w)
    return (
        per.withColumn("mean_value", F.col("__sv") / F.col("n"))
        .withColumn("deviation", F.col("mean_value") - overall)
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("n").cast("long").alias("n"),
            F.round("mean_value", 6).alias("mean_value"),
            F.round("deviation", 6).alias("deviation"),
        )
        .orderBy("event_type", "dow")
    )


_DOW_SEASONALITY_SQL = """
WITH per AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS n,
         SUM(value) AS sv
  FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(sv) / SUM(n) AS overall
        FROM per GROUP BY 1)
SELECT per.event_type, CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n,
       round(sv / n, 6) AS mean_value,
       round(sv / n - overall, 6) AS deviation
FROM per JOIN tot ON tot.event_type = per.event_type
ORDER BY per.event_type, dow
"""


def burstiness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) of daily event counts per type:
    variance-to-mean ratio of the per-day counts over the days the
    type occurs — VMR 1 = Poisson-like arrivals, >> 1 = bursty
    (campaign spikes), << 1 = regular. All moments come from INTEGER
    count aggregates (Σn, Σn² exact), so the statistic is
    engine-exact; two hash-aggs, no window."""
    ev = _t(spark, sf_dir, "events").df.select(
        "event_type",
        (F.floor(_micros("ts") / F.lit(86_400_000_000))).alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("__s"),
        F.sum(F.col("n") * F.col("n")).alias("__s2"),
    )
    d = F.col("n_days").cast("double")
    mean = F.col("__s") / d
    var = (F.col("__s2") - F.col("__s") * F.col("__s") / d) / (d - 1)
    return (
        agg.filter(F.col("n_days") > 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("__s").cast("long").alias("n_events"),
            F.round(mean, 6).alias("mean_daily"),
            F.round(var / mean, 9).alias("fano"),
        )
        .orderBy("event_type")
    )


_BURSTINESS_SQL = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
agg AS (SELECT event_type, COUNT(*) AS n_days, SUM(n) AS s,
               SUM(n * n) AS s2
        FROM daily GROUP BY 1)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS n_events,
       round(s / CAST(n_days AS DOUBLE), 6) AS mean_daily,
       round(((s2 - s * CAST(s AS DOUBLE) / n_days)
              / (CAST(n_days AS DOUBLE) - 1))
             / (s / CAST(n_days AS DOUBLE)), 9) AS fano
FROM agg WHERE n_days > 1 ORDER BY event_type
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, _Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, _Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, _Q5_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, _Q6_SQL),
    "group_counter": (group_counter, _COUNTER_SQL),
    "order_by_topk": (order_by_topk, _TOPK_SQL),
    "distinct_by_key": (distinct_by_key, _DISTINCT_SQL),
    "semi_join": (semi_join_q, _SEMI_SQL),
    "anti_join": (anti_join_q, _ANTI_SQL),
    "left_join_right_distinct": (left_join_distinct, _LJRD_SQL),
    "explode_words": (explode_words, _EXPLODE_SQL),
    "scan_cumulative_sum": (scan_cumulative, _SCAN_SQL),
    "scan_battery": (scan_battery, _SCAN_BATTERY_SQL),
    "scan_combinators": (scan_combinators_q, _SCAN_COMBINATORS_SQL),
    "add_index": (add_index_q, _ADD_INDEX_SQL),
    "interval_join": (interval_band_join, _INTERVAL_SQL),
    "collect_per_key": (collect_per_key, _COLLECT_SQL),
    "take_by_per_key": (take_by_per_key, _TAKEBY_SQL),
    "string_features": (string_features, _STRING_SQL),
    "union_all": (union_all_q, _UNION_SQL),
    "union_unify": (union_unify_q, _UNION_UNIFY_SQL),
    "prev_nonnull": (prev_nonnull_q, _PREV_SQL),
    "mt_row_agg": (mt_row_agg, _MT_ROW_AGG_SQL),
    "mt_col_agg": (mt_col_agg, _MT_COL_AGG_SQL),
    "mt_group_rows_by": (mt_group_rows, _MT_GROUP_ROWS_SQL),
    "mt_filter_entries": (mt_filter_entries_q, _MT_FILTER_ENTRIES_SQL),
    "mt_group_cols_by": (mt_group_cols_by_q, _MT_GROUP_COLS_SQL),
    "mt_semi_join_rows": (mt_semi_join_rows_q, _MT_SEMI_ROWS_SQL),
    "mt_explode_battery": (mt_explode_battery_q, _MT_EXPLODE_SQL),
    "inbreeding_by_type": (inbreeding_by_type, _INBREEDING_SQL),
    "vds_densify": (vds_densify, _VDS_DENSIFY_SQL),
    "variant_qc_stats": (variant_qc_q, _VARIANT_QC_SQL),
    "sample_qc_stats": (sample_qc_q, _SAMPLE_QC_SQL),
    "king_kinship": (king_kinship, _KING_SQL),
    "split_multi_sites": (split_multi_sites, _SPLIT_MULTI_SQL),
    "concordance_counts": (concordance_counts, _CONCORDANCE_SQL),
    "ld_matrix_window": (ld_matrix_window, _LD_MATRIX_SQL),
    "mendel_errors_by_variant": (mendel_errors_q, _MENDEL_SQL),
    "hist_by_type": (hist_downsample_q, _HIST_SQL),
    "import_table_impute": (import_table_impute, _IMPORT_TABLE_SQL),
    "vcf_round_trip": (vcf_round_trip, _VCF_RT_SQL),
    "impute_sex_stats": (impute_sex_q, _IMPUTE_SEX_SQL),
    "tdt_counts": (tdt_counts, _TDT_SQL),
    "scalar_battery": (scalar_battery, _SCALAR_SQL),
    "collection_battery": (collection_battery, _COLLECTION_SQL),
    "multiway_zip_join": (multiway_zip_q, _MULTIWAY_SQL),
    "outer_join_coalesce": (outer_join_coalesce, _OUTER_JOIN_SQL),
    "corr_regr_agg": (corr_regr_agg, _CORR_SQL),
    "product_agg": (product_agg, _PRODUCT_SQL),
    "bit_ops_battery": (bit_ops_battery, _BIT_SQL),
    "parse_cast_battery": (parse_cast_battery, _PARSE_SQL),
    "set_ops_per_key": (set_ops_per_key, _SET_OPS_SQL),
    "bm_matmul": (bm_matmul_q, _BM_MATMUL_SQL),
    "hwe_by_group": (hwe_by_group, _HWE_SQL),
    "query_table_point": (query_table_point, _QUERY_TABLE_SQL),
    "query_mt_rows_point": (query_mt_rows_point, _QUERY_MT_SQL),
    "map_globals": (map_globals_q, _MAP_GLOBALS_SQL),
    "reservoir_sample": (reservoir_sample_q, _RESERVOIR_SQL),
    "fold_entropy_hamming": (fold_entropy_hamming_q, _FOLD_ENT_HAM_SQL),
    "ndarray_sum_groups": (ndarray_sum_q, _NDARRAY_SUM_SQL),
    "balding_nichols_stats": (balding_nichols_q, _BALDING_NICHOLS_SQL),
    "maximal_independent_set": (maximal_independent_set_q, _MIS_SQL),
    "row_correlation_pairs": (row_correlation_q, _ROW_CORR_SQL),
    "bm_svd_moments": (bm_svd_moments_q, _BM_SVD_SQL),
    "info_score_by_bucket": (info_score_by_bucket, _INFO_SCORE_SQL),
    "liftover_loci": (liftover_loci, _LIFTOVER_SQL),
    "linreg_rows": (linreg_rows_q, _LINREG_SQL),
    "logreg_score_rows": (logreg_score_rows_q, _LOGREG_SCORE_SQL),
    "poisreg_score_rows": (poisreg_score_rows_q, _POISREG_SCORE_SQL),
    "pca_moments": (pca_moments_q, _PCA_MOMENTS_SQL),
    "skat_q_stats": (skat_q_stats_q, _SKAT_SQL),
    "logistic_skat_q": (logistic_skat_q_q, _LOGISTIC_SKAT_SQL),
    "genotype_fn_battery": (genotype_fn_battery_q, _GENO_FN_SQL),
    "assoc_tests_battery": (assoc_tests_battery_q, _ASSOC_SQL),
    "cmh_test": (cmh_test_q, _CMH_SQL),
    "binom_test_by_type": (binom_test_by_type_q, _BINOM_SQL),
    "de_novo_calls": (de_novo_q, _DE_NOVO_SQL),
    "charr_contamination": (charr_q, _CHARR_SQL),
    "summarize_alleles": (summarize_alleles_q, _SUMMARIZE_SQL),
    "bm_band_matmul": (bm_band_matmul_q, _BM_BAND_SQL),
    "bm_sparse_battery": (bm_sparse_battery_q, _BM_SPARSE_SQL),
    "vds_ref_block_battery": (vds_ref_block_battery_q, _VDS_REF_BLOCK_SQL),
    "approx_quantiles_by_type": (approx_quantiles_q, _APPROX_Q_SQL),
    "approx_cdf_struct": (approx_cdf_struct_q, _APPROX_CDF_SQL),
    "mendel_code_battery": (mendel_code_battery_q, _MENDEL_CODE_SQL),
    "local_to_global_battery": (local_to_global_battery_q, _LOCAL_TO_GLOBAL_SQL),
    "split_multi_rows": (split_multi_rows_q, _SPLIT_MULTI_ROWS_SQL),
    "bm_row_major": (bm_row_major_q, _BM_ROW_MAJOR_SQL),
    "array_agg_explode": (array_agg_explode_q, _ARRAY_AGG_EXPLODE_SQL),
    "plink_round_trip": (plink_round_trip, _PLINK_RT_SQL),
    "bgen_round_trip": (bgen_round_trip, _BGEN_RT_SQL),
    "table_native_round_trip": (table_native_round_trip, _NATIVE_RT_SQL),
    "bed_intervals_join": (bed_intervals_join, _BED_JOIN_SQL),
    "downsample_cells": (downsample_cells_q, _DOWNSAMPLE_SQL),
    "ibd_pairs": (ibd_q, _IBD_SQL),
    "rrm_matrix": (rrm_q, _RRM_SQL),
    "pc_relate_kinship": (pc_relate_q, _PC_RELATE_SQL),
    "table_gen": (table_gen_q, _TABLE_GEN_SQL),
    "checkpoint_chain": (checkpoint_chain_q, _CHECKPOINT_SQL),
    "gvcf_combine_densify": (gvcf_combine_densify, _GVCF_COMBINE_SQL),
    "mt_annotate_rows_interval": (mt_annotate_rows_interval_q, _MT_ANNOT_IV_SQL),
    "min_rep_battery": (min_rep_q, _MIN_REP_SQL),
    "array_sum_embeddings": (array_sum_q, _ARRAY_SUM_SQL),
    "scan_array_sum": (scan_array_sum_q, _SCAN_ARRAY_SUM_SQL),
    "call_stats_by_type": (call_stats_q, _CALL_STATS_SQL),
    "search_keyed_battery": (search_keyed_battery_q, _SEARCH_KEYED_SQL),
    "mt_union_battery": (mt_union_battery_q, _MT_UNION_SQL),
    "mt_native_round_trip": (mt_native_round_trip, _MT_NATIVE_RT_SQL),
    "gen_round_trip": (gen_round_trip, _GEN_RT_SQL),
    "avro_round_trip": (avro_round_trip, _AVRO_RT_SQL),
    "hail_native_ht": (hail_native_ht_q, _HAIL_NATIVE_HT_SQL),
    "fanout_round_trip": (fanout_round_trip, _FANOUT_SQL),
    "grep_lines": (grep_lines_q, _GREP_SQL),
    "filter_intervals_orders": (filter_intervals_orders, _FILTER_INTERVALS_SQL),
    "segment_intervals_custkey": (segment_intervals_custkey, _SEGMENT_INTERVALS_SQL),
    "tidyr_gather": (tidyr_gather, _TIDYR_GATHER_SQL),
    "tidyr_spread": (tidyr_spread, _TIDYR_SPREAD_SQL),
    "rename_duplicates_q": (rename_duplicates_q, _RENAME_DUPLICATES_SQL),
    "haplotype_em": (haplotype_em_q, _HAP_EM_SQL),
    "ld_score_window": (ld_score_window_q, _LD_SCORE_SQL),
    "mt_full_outer_join": (mt_full_outer_join_q, _MT_FOJ_SQL),
    "faf_by_nation": (faf_by_nation, _FAF_SQL),
    "lambda_gc_events": (lambda_gc_q, _LAMBDA_GC_SQL),
    "random_mating_hom": (random_mating_q, _RANDOM_MATING_SQL),
    "q4_order_priority": (q4_priority_q, _Q4_SQL),
    "q10_returned_revenue": (q10_returns_q, _Q10_SQL),
    "q14_promo_share": (q14_promo_q, _Q14_SQL),
    "q19_disjunctive_revenue": (q19_disjunct_q, _Q19_SQL),
    "session_window_native": (session_window_q, _SESSION_WINDOW_SQL),
    "hopping_window_events": (hopping_window_q, _HOPPING_WINDOW_SQL),
    "q7_volume_shipping": (q7_volume_q, _Q7_SQL),
    "q8_market_share": (q8_market_share_q, _Q8_SQL),
    "q9_product_profit": (q9_profit_q, _Q9_SQL),
    "q13_order_count_dist": (q13_custdist_q, _Q13_SQL),
    "q15_top_supplier": (q15_top_supplier_q, _Q15_SQL),
    "q16_parts_supplier_cnt": (q16_supplier_cnt_q, _Q16_SQL),
    "q17_small_qty_revenue": (q17_small_qty_q, _Q17_SQL),
    "q18_large_volume_cust": (q18_large_volume_q, _Q18_SQL),
    "q22_dormant_customers": (q22_dormant_q, _Q22_SQL),
    "q2_min_cost_supplier": (q2_min_cost_q, _Q2_SQL),
    "q11_important_stock": (q11_stock_value_q, _Q11_SQL),
    "q12_shipmode_priority": (q12_shipmode_q, _Q12_SQL),
    "q20_potential_promo": (q20_potential_promo_q, _Q20_SQL),
    "q21_waiting_supplier": (q21_waiting_q, _Q21_SQL),
    "window_functions_battery": (window_battery_q, _WINDOW_BATTERY_SQL),
    "cube_grouping_battery": (cube_battery_q, _CUBE_BATTERY_SQL),
    "tokenizer_oov_rate": (oov_rate_q, _OOV_RATE_SQL),
    "datetime_battery": (datetime_battery_q, _DATETIME_BATTERY_SQL),
    "variant_extract_paths": (variant_q, _VARIANT_SQL),
    "parquet_stats_fast": (parquet_stats_q, _PARQUET_STATS_SQL),
    "schema_evolution_read": (schema_evolution_q, _SCHEMA_EVO_SQL),
    "hof_array_battery": (hof_array_battery_q, _HOF_ARRAY_SQL),
    "pivot_event_values": (pivot_q, _PIVOT_SQL),
    "unpivot_measures": (unpivot_q, _UNPIVOT_SQL),
    "rollup_order_totals": (rollup_cube_q, _ROLLUP_SQL),
    "json_props_extract": (json_props_q, _JSON_PROPS_SQL),
    "distinctive_terms_tfidf": (distinctive_terms_q, _DISTINCTIVE_TERMS_SQL),
    "jsonl_round_trip": (jsonl_round_trip_q, _JSONL_RT_SQL),
    "pc_project_scores": (pc_project_q, _PC_PROJECT_SQL),
    "sparse_split_battery": (sparse_split_multi_q, _SPARSE_SPLIT_SQL),
    "densify_sparse": (densify_sparse_q, _DENSIFY_SQL),
    "import_matrix_table_rt": (import_matrix_table_rt, _IMT_SQL),
    "export_entries_by_col_rt": (export_entries_by_col_rt, _EEBC_SQL),
    "orc_round_trip": (orc_round_trip_q, _ORC_RT_SQL),
    "fixed_width_round_trip": (fixed_width_round_trip_q, _FIXED_WIDTH_SQL),
    "dow_seasonality_events": (dow_seasonality_q, _DOW_SEASONALITY_SQL),
    "burstiness_daily_events": (burstiness_q, _BURSTINESS_SQL),
}
