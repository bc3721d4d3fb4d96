"""Hypothesis property tests for round-6 operators."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _lev(a, b):
    m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        m[i][0] = i
    for j in range(len(b) + 1):
        m[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                          m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
    return m[len(a)][len(b)]


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abcd", max_size=8), min_size=1,
                max_size=12), st.integers(min_value=1, max_value=2))
def test_fuzzy_join_never_misses_pairs(spark, words, d):
    """PassJoin candidates + verify == brute force on arbitrary short
    strings (incl. empties and duplicates)."""
    import itertools

    from hail_spark.operators.relational import fuzzy_join

    uniq = sorted(set(words))
    L = spark.createDataFrame(list(enumerate(uniq)), "left_id long, w string")
    R = spark.createDataFrame(list(enumerate(uniq)), "right_id long, w string")
    got = sorted((r["left_id"], r["right_id"], r["dist"])
                 for r in fuzzy_join(L, R, "w", max_dist=d).collect())
    want = sorted(
        (i, j, _lev(a, b))
        for (i, a), (j, b) in itertools.product(enumerate(uniq), repeat=2)
        if _lev(a, b) <= d
    )
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(-50, 50)),
                min_size=1, max_size=30),
       st.integers(min_value=1, max_value=7))
def test_resample_grid_is_complete_and_exact(spark, rows, interval):
    """Every key's grid covers [min_bucket, max_bucket] with the exact
    interval step; aggregated values match a Python groupby."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from hail_spark.operators.relational import resample

    df = spark.createDataFrame([(k, t, 1.0) for k, t in rows],
                               "k long, ts long, v double")
    out = resample(df, "k", "ts", interval,
                   {"n": F.count(F.lit(1))}, fill="zero").collect()
    want = defaultdict(int)

    # python floor-bucket (Python % already has floor semantics)
    def bucket(t):
        return t - (t % interval)
    for k, t in rows:
        want[(k, bucket(t))] += 1
    got = {(r["k"], r["bucket"]): r["n"] for r in out}
    # non-gap buckets exact
    for kk, n in want.items():
        assert got[kk] == n
    # grid completeness + zero fill
    from itertools import groupby
    for k in {k for k, _ in rows}:
        bs = sorted(b for (kk, b) in got if kk == k)
        assert bs == list(range(bs[0], bs[-1] + 1, interval))
        for b in bs:
            if (k, b) not in want:
                assert got[(k, b)] == 0
