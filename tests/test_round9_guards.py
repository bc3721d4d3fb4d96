"""Round-9 guards: default-on caps + overflow reports for the pair
operators, the fixed-width full-extent guard, kcore non-converged degree
consistency, the _lc_supersede materialize-before-release contract, and
harmonic centrality vs exact BFS."""

import math

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------- #
# association_rules: cap ON by default, one distinct hash-agg shared
# --------------------------------------------------------------------- #
def test_association_rules_default_cap_bounds_star_basket(spark):
    from hail_spark.operators.relational import (
        association_rules,
        association_rules_overflow,
    )

    # one degenerate basket holding 1000 items + many small baskets;
    # default cap (256) must DROP the star basket from pair generation
    # while N and item supports keep counting it
    rows = [(0, i) for i in range(1000)]
    rows += [(b, i) for b in range(1, 40) for i in (1, 2)]
    df = spark.createDataFrame(rows, "basket long, item long")
    out = association_rules(
        df, "basket", "item", min_support_count=5
    ).collect()
    # pair (1,2) co-occurs in 39 small baskets + the dropped star
    r = {(x["antecedent"], x["consequent"]): x for x in out}
    assert (1, 2) in r and r[(1, 2)]["n_pair"] == 39
    # supports use N = 40 baskets (the dropped star still counted in N)
    assert abs(r[(1, 2)]["support"] - 39 / 40.0) < 1e-12
    # confidence = n_pair / n_a with n_a counting the star (40 baskets)
    assert abs(r[(1, 2)]["confidence"] - 39 / 40.0) < 1e-12
    ov = association_rules_overflow(df, "basket", "item").collect()
    assert [(x["basket"], x["n_items"]) for x in ov] == [(0, 1000)]
    # uncapped, the star basket contributes pairs
    un = association_rules(
        df, "basket", "item", min_support_count=5, max_basket_size=None
    ).collect()
    ru = {(x["antecedent"], x["consequent"]): x for x in un}
    assert ru[(1, 2)]["n_pair"] == 40


# --------------------------------------------------------------------- #
# import_fixed_width fast path: full-extent guard
# --------------------------------------------------------------------- #
def test_fixed_width_fast_path_trailing_sentinel_raises(spark, tmp_path):
    from hail_spark.io.impex import import_fixed_width

    fields = [("name", 1, 4, "string"), ("qty", 5, 3, "int")]
    # a line ENDING in the \x01\x02\x03 separator WITHIN the declared
    # extent: the CSV parser swallows the trailing separator + empty
    # token, so the line arrives 3 bytes short of the extent (7) — the
    # length guard must raise instead of silently parsing a truncated
    # tail (the qty field would otherwise read garbage/empty)
    tail = tmp_path / "tail.txt"
    tail.write_bytes(b"HDRXXXX\nabcd123\nefgh\x01\x02\x03\n")
    with pytest.raises(Exception, match="extent"):
        import_fixed_width(
            spark, str(tail), fields, skip_header=1,
            splittable_header_skip=True,
        ).df.collect()
    # a trailing sentinel BEYOND the extent loses only bytes the
    # declared fields never read — the parse stays correct
    beyond = tmp_path / "beyond.txt"
    beyond.write_bytes(b"HDRXXXX\nabcd123\nefgh456\x01\x02\x03\n")
    t2 = import_fixed_width(
        spark, str(beyond), fields, skip_header=1,
        splittable_header_skip=True,
    )
    assert sorted(map(tuple, t2.df.collect())) == [
        ("abcd", 123), ("efgh", 456)
    ]
    # ragged short lines also raise loudly on this opt-in path
    rag = tmp_path / "rag.txt"
    rag.write_bytes(b"HDRXXXX\nabcd123\nefgh4\n")
    with pytest.raises(Exception, match="extent"):
        import_fixed_width(
            spark, str(rag), fields, skip_header=1,
            splittable_header_skip=True,
        ).df.collect()
    # the byte-exact default path still accepts both
    t = import_fixed_width(spark, str(rag), fields, skip_header=1)
    got = sorted(map(tuple, t.df.collect()))
    assert got == [("abcd", 123), ("efgh", 4)]


# --------------------------------------------------------------------- #
# kcore: non-converged output degrees are within the returned node set
# --------------------------------------------------------------------- #
def test_kcore_nonconverged_degrees_internally_consistent(spark):
    from hail_spark.operators.graph import kcore

    # path graph 0-1-2-...-9 with k=2: full peeling erases everything
    # (a path has no 2-core); with n_iter=1 the peel stops after one
    # round — returned degrees must count edges within the RETURNED
    # node set only
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    out = kcore(edges, k=2, n_iter=1).collect()
    nodes = {r["node"] for r in out}
    deg = {r["node"]: r["core_degree"] for r in out}
    # round 1 peels endpoints 0 and 9; the final >=k filter then drops
    # 1 and 8 (degree 1 in the peeled path), so the returned set is
    # {2..7} — and the recomputed degrees count edges within THAT set:
    # nodes 2 and 7 have within-set degree 1, NOT the stale pre-filter
    # 2 (which counted their edges to the dropped nodes 1 and 8)
    assert nodes == set(range(2, 8))
    assert deg[2] == 1 and deg[7] == 1
    assert all(deg[n] == 2 for n in range(3, 7))
    # converged run: the 2-core of a path is empty
    assert kcore(edges, k=2, n_iter=20).count() == 0
    # and a real 2-core is untouched: a 4-cycle survives with degree 2
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    got = {(r["node"], r["core_degree"]) for r in kcore(cyc, k=2).collect()}
    assert got == {(n, 2) for n in range(4)}


# --------------------------------------------------------------------- #
# _lc_supersede: releasing against a lazy successor must be loud
# --------------------------------------------------------------------- #
def test_lc_supersede_rejects_lazy_successor(spark):
    from hail_spark.operators.graph import _lc_supersede

    ck = spark.range(10).localCheckpoint()
    lazy = ck.filter(F.col("id") > 3)  # NOT materialized
    with pytest.raises(AssertionError, match="materialized checkpoint"):
        _lc_supersede(ck, lazy)
    # a materialized successor is accepted and returned
    nxt = lazy.localCheckpoint()
    assert _lc_supersede(ck, nxt) is nxt
    assert nxt.count() == 6


# --------------------------------------------------------------------- #
# harmonic centrality vs exact BFS on a small directed graph
# --------------------------------------------------------------------- #
def test_harmonic_centrality_matches_exact_bfs(spark):
    from hail_spark.operators.graph import harmonic_centrality

    # directed edges; incoming harmonic of v = sum over u!=v of
    # 1/d(u, v) along edge direction u -> ... -> v
    E = [(0, 1), (1, 2), (2, 3), (0, 2), (3, 0)]
    edges = spark.createDataFrame(E, "src long, dst long")

    # exact all-pairs BFS on the tiny graph
    nodes = sorted({x for e in E for x in e})
    adj = {n: [] for n in nodes}
    for s, d in E:
        adj[s].append(d)

    def dists_from(s):
        dd, frontier, r = {s: 0}, [s], 0
        while frontier:
            r += 1
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dd:
                        dd[v] = r
                        nxt.append(v)
            frontier = nxt
        return dd

    radius = 4
    want = {}
    for v in nodes:
        h = td = 0.0
        nreach = 1
        for u in nodes:
            if u == v:
                continue
            d = dists_from(u).get(v)
            if d is not None and d <= radius:
                h += 1.0 / d
                td += d
                nreach += 1
        want[v] = (h, nreach, (nreach - 1) / td if td else 0.0)

    got = {
        r["node"]: (r["harmonic"], int(r["n_reachable"]), r["closeness"])
        for r in harmonic_centrality(edges, radius=radius).collect()
    }
    assert set(got) == set(want)
    for v in nodes:
        assert math.isclose(got[v][0], want[v][0], rel_tol=1e-9), v
        assert got[v][1] == want[v][1], v
        assert math.isclose(got[v][2], want[v][2], rel_tol=1e-9), v


