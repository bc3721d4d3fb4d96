"""Round-8 operators: weighted SSSP (Bellman-Ford) and sparse TF-IDF
cosine top-k."""

import math

import pytest
from pyspark.sql import functions as F


def test_sssp_known_graph(spark):
    from hail_spark.operators.graph import sssp

    #      1 --2--> 2 --1--> 3
    #      1 --10-> 3        3 --1--> 4 (cycle back to 1 via 4 --1--> 1)
    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 1.0), (1, 3, 10.0), (3, 4, 1.0), (4, 1, 1.0)],
        "src long, dst long, weight double",
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp(edges, srcs, n_iter=10).collect()}
    assert got == {1: 0.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_sssp_parallel_edges_keep_lightest(spark):
    from hail_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 2, 5.0), (1, 2, 3.0), (1, 2, 9.0)], "src long, dst long, weight double"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp(edges, srcs, n_iter=3).collect()}
    assert got == {1: 0.0, 2: 3.0}


def test_sssp_hop_bound_and_early_stop(spark):
    from hail_spark.operators.graph import sssp

    # chain 1->2->3->4; n_iter=2 reaches only 2 hops
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], "src long, dst long, weight double"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    two = {r["node"]: r["dist"] for r in sssp(edges, srcs, n_iter=2).collect()}
    assert two == {1: 0.0, 2: 1.0, 3: 2.0}
    # n_iter far beyond convergence: early stop, same answer as exact
    big = {r["node"]: r["dist"] for r in sssp(edges, srcs, n_iter=50).collect()}
    assert big == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}


def test_sssp_multi_source_and_negative_reject(spark):
    from hail_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 3, 4.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    srcs = spark.createDataFrame([(1,), (2,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp(edges, srcs, n_iter=3).collect()}
    assert got == {1: 0.0, 2: 0.0, 3: 1.0}  # min over both sources

    neg = spark.createDataFrame([(1, 2, -1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="negative"):
        sssp(neg, srcs, n_iter=3)


def test_association_rules_known_baskets(spark):
    from hail_spark.operators.relational import association_rules

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = association_rules(df, "basket", "item", min_support_count=2)
    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_pair"], r["support"], r["confidence"], r["lift"]
        )
        for r in out.collect()
    }
    # only (a,b) co-occurs twice; item counts a=3, b=2, N=3
    assert set(got) == {("a", "b"), ("b", "a")}
    n, s, c, l = got[("a", "b")]
    assert n == 2 and abs(s - 2 / 3) < 1e-12
    assert abs(c - 2 / 3) < 1e-12 and abs(l - 1.0) < 1e-12
    n, s, c, l = got[("b", "a")]
    assert abs(c - 1.0) < 1e-12 and abs(l - 1.0) < 1e-12


def test_association_rules_basket_cap_conservative(spark):
    from hail_spark.operators.relational import association_rules

    # basket 9 is a 5-item megabasket; cap 4 drops it from pair
    # generation but N and item supports still count it
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    rows += [(9, x) for x in ("a", "b", "c", "d", "e")]
    df = spark.createDataFrame(rows, "basket long, item string")
    capped = association_rules(
        df, "basket", "item", min_support_count=2, max_basket_size=4
    )
    got = {
        (r["antecedent"], r["consequent"]): (r["n_pair"], r["support"], r["confidence"])
        for r in capped.collect()
    }
    assert set(got) == {("a", "b"), ("b", "a")}
    n, s, c = got[("a", "b")]
    # pair count excludes basket 9; denominators still include it
    assert n == 2 and abs(s - 2 / 3) < 1e-12 and abs(c - 2 / 3) < 1e-12


def test_cusum_matches_reference_recurrence(spark):
    from hail_spark.operators.relational import cusum_changepoints

    xs = [10, 11, 9, 10, 30, 31, 29, 30, 10, 10]  # level shift at i=4
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "t long, x double"
    )
    out = cusum_changepoints(df, "t", "x", threshold=25.0)
    got = {r["t"]: (r["cusum_pos"], r["cusum_neg"], r["is_change"]) for r in out.collect()}

    mean = sum(xs) / len(xs)
    sp = sn = 0.0
    for i, x in enumerate(xs):
        sp = max(0.0, sp + (x - mean))
        sn = max(0.0, sn - (x - mean))
        assert got[i][0] == pytest.approx(sp, abs=1e-9)
        assert got[i][1] == pytest.approx(sn, abs=1e-9)
        assert got[i][2] == (sp > 25.0 or sn > 25.0)
    assert any(v[2] for v in got.values())  # the shift is detected


def test_cusum_per_key_series(spark):
    from hail_spark.operators.relational import cusum_changepoints

    rows = [("a", i, float(i % 3)) for i in range(6)]
    rows += [("b", i, 100.0 if i == 3 else 1.0) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    out = cusum_changepoints(df, "t", "x", key_cols=("k",), threshold=40.0)
    a_flags = [r["is_change"] for r in out.filter(F.col("k") == "a").collect()]
    b_flags = [r["is_change"] for r in out.filter(F.col("k") == "b").collect()]
    assert not any(a_flags) and any(b_flags)  # keys are independent


def test_kcore_known_graph(spark):
    from hail_spark.operators.graph import kcore

    # triangle {1,2,3} (each degree 2) plus pendant 3-4 and isolated 5-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    core2 = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}  # pendant and the 5-6 edge peel away
    core1 = {r["node"] for r in kcore(edges, k=1).collect()}
    assert core1 == {1, 2, 3, 4, 5, 6}
    assert kcore(edges, k=3).count() == 0


def test_kcore_cascade_peel(spark):
    from hail_spark.operators.graph import kcore

    # chain 1-2-3-4-5: 2-core empty, but needs multiple peel rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    assert kcore(edges, k=2, n_iter=10).count() == 0
    # bounded rounds: after 1 round only the endpoints are gone
    one = {r["node"] for r in kcore(edges, k=2, n_iter=1).collect()}
    assert one == {3}  # 2 and 4 drop to degree 1 but the round already ran


def test_benford_report_known_distribution(spark):
    from hail_spark.operators.validate import benford_report

    # 30 values starting with 1, 10 with 2 — and digits 3..9 get ZERO
    # counts, which must still contribute to chi2 via the dense grid
    rows = [(float(10 + i % 10),) for i in range(30)]
    rows += [(float(20 + i),) for i in range(10)]
    df = spark.createDataFrame(rows, "x double")
    out = benford_report(df, "x").collect()
    by_digit = {r["digit"]: r for r in out}
    assert set(by_digit) == set(range(1, 10))  # densified to all cells
    assert by_digit[1]["n_digit"] == 30 and abs(by_digit[1]["obs_share"] - 0.75) < 1e-12
    assert by_digit[7]["n_digit"] == 0
    import math

    n = 40.0
    chi = sum(
        n * (obs - math.log10(1 + 1 / d)) ** 2 / math.log10(1 + 1 / d)
        for d, obs in [(1, 0.75), (2, 0.25)] + [(d, 0.0) for d in range(3, 10)]
    )
    assert by_digit[5]["chi2"] == pytest.approx(chi, rel=1e-9)
    # non-positive values are excluded
    df2 = spark.createDataFrame([(0.0,), (-5.0,), (1.0,)], "x double")
    out2 = benford_report(df2, "x").collect()
    assert sum(r["n_digit"] for r in out2) == 1


def test_quantile_normalize_forces_identical_distributions(spark):
    from hail_spark.llmdata.features import quantile_normalize

    # two equal-sized samples with different distributions
    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 4])]
    rows += [("b", i, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "s string, rid long, v double")
    out = quantile_normalize(df, "s", "rid", "v").collect()
    per = {}
    for r in out:
        per.setdefault(r["s"], []).append(r["normalized"])
    # after normalization both samples hold exactly the rank means
    expect = [(1 + 10) / 2, (2 + 20) / 2, (3 + 30) / 2, (4 + 40) / 2]
    assert sorted(per["a"]) == expect and sorted(per["b"]) == expect
    # monotone: the largest raw value maps to the largest rank mean
    top_b = max(out, key=lambda r: (r["s"] == "b", r["v"]))
    assert top_b["normalized"] == expect[-1]


def test_neighborhood_function_exact_small_graph(spark):
    from hail_spark.operators.graph import neighborhood_function

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    got = {
        (r["node"], r["radius"]): r["n_reachable"]
        for r in neighborhood_function(edges, radius=3).collect()
    }
    # sparse-regime HLL is exact: ball_1(1)={1,2,3}, ball_2(1)=+{4}
    assert got[(1, 0)] == 1 and got[(1, 1)] == 3
    assert got[(1, 2)] == 4 and got[(1, 3)] == 4
    assert got[(2, 2)] == 3 and got[(4, 3)] == 1  # sink stays itself
    # monotone in r for every node
    for n in (1, 2, 3, 4):
        for r in range(3):
            assert got[(n, r)] <= got[(n, r + 1)]
