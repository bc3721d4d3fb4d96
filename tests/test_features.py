"""Group-wise feature scaling (llmdata/features.py)."""

import math

from pyspark.sql import functions as F

from hail_spark.llmdata.features import minmax_by_group, standardize_by_group


def test_zscore_matches_numpy(spark):
    import numpy as np

    vals = [1.0, 2.0, 3.0, 10.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    got = sorted(
        r["value_z"] for r in standardize_by_group(df, "k", "value").collect()
    )
    a = np.array(vals)
    want = sorted((a - a.mean()) / a.std())
    assert all(math.isclose(g, w, rel_tol=1e-9) for g, w in zip(got, want))


def test_degenerate_groups_scale_to_zero(spark):
    df = spark.createDataFrame(
        [("single", 7.0), ("const", 5.0), ("const", 5.0)], "k string, value double"
    )
    z = standardize_by_group(df, "k", "value")
    mm = minmax_by_group(df, "k", "value")
    assert {r["value_z"] for r in z.collect()} == {0.0}
    assert {r["value_mm"] for r in mm.collect()} == {0.0}


def test_minmax_bounds(spark):
    df = spark.createDataFrame(
        [("g", v) for v in (2.0, 4.0, 6.0)], "k string, value double"
    )
    got = sorted(r["value_mm"] for r in minmax_by_group(df, "k", "value").collect())
    assert got == [0.0, 0.5, 1.0]


def test_winsorize_clips_at_quantiles(spark):
    import numpy as np

    from hail_spark.llmdata.features import winsorize_by_group

    vals = [float(v) for v in range(1, 101)] + [10_000.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    out = winsorize_by_group(df, "k", "value", 0.1, 0.9)
    lo, hi = np.quantile(np.array(vals), [0.1, 0.9])
    got = sorted(r["value_w"] for r in out.collect())
    assert math.isclose(got[0], lo, rel_tol=1e-9)
    assert math.isclose(got[-1], hi, rel_tol=1e-9)
    assert all(lo - 1e-9 <= v <= hi + 1e-9 for v in got)


def test_quantile_bins_equal_frequency(spark):
    from hail_spark.llmdata.features import quantile_bins

    vals = [float(v) for v in range(1, 41)]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    out = quantile_bins(df, "k", "value", n_bins=4)
    from collections import Counter

    counts = Counter(r["value_bin"] for r in out.collect())
    assert set(counts) == {0, 1, 2, 3}
    assert all(8 <= c <= 12 for c in counts.values())  # ~equal frequency


def test_quantile_bins_validation(spark):
    import pytest as _pytest

    from hail_spark.llmdata.features import quantile_bins

    df = spark.createDataFrame([("g", 1.0)], "k string, value double")
    with _pytest.raises(ValueError):
        quantile_bins(df, "k", "value", n_bins=1)


def test_approx_quantile_path_tracks_exact(spark):
    """r05 verdict item 4: exact=False (percentile_approx, bounded
    O(accuracy) buffer) must land within one 1/accuracy rank step of
    the exact thresholds on a high-cardinality continuous column."""
    from hail_spark.llmdata.features import quantile_bins, winsorize_by_group

    # 20k distinct doubles, deliberately non-uniform (quadratic ramp)
    vals = [(("a", (i * i) % 19997 + i / 7.0)) for i in range(20_000)]
    df = spark.createDataFrame(vals, "k string, value double").repartition(8)

    exact_w = winsorize_by_group(df, "k", "value", 0.05, 0.95, exact=True)
    approx_w = winsorize_by_group(
        df, "k", "value", 0.05, 0.95, exact=False, accuracy=10000
    )
    lo_e, hi_e = (
        exact_w.agg(F.min("value_w"), F.max("value_w")).collect()[0]
    )
    lo_a, hi_a = (
        approx_w.agg(F.min("value_w"), F.max("value_w")).collect()[0]
    )
    # rank error <= 1/accuracy = 2 ranks of 20k => tiny value gap here
    span = 19997 + 20_000 / 7.0
    assert abs(lo_a - lo_e) < span * 0.01
    assert abs(hi_a - hi_e) < span * 0.01

    # bins: approx assignment may differ only near thresholds — check
    # the per-bin counts stay ~equal frequency
    from collections import Counter

    counts = Counter(
        r["value_bin"]
        for r in quantile_bins(df, "k", "value", 4, exact=False).collect()
    )
    assert set(counts) == {0, 1, 2, 3}
    assert all(abs(c - 5000) < 150 for c in counts.values())


def test_moments_range_guard_raises(spark):
    """ADVICE r05: |value| >= 1e9 must fail LOUDLY (raise_error inside
    the moments agg), not silently null-skew the mean."""
    import pytest as _pytest

    from hail_spark.llmdata.features import minmax_by_group, standardize_by_group

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0e9)], "k string, value double"
    )
    with _pytest.raises(Exception, match="must be < 1e9"):
        standardize_by_group(df, "k", "value").collect()
    # min-max doesn't use the decimal moments -> must still work
    got = sorted(r["value_mm"] for r in minmax_by_group(df, "k", "value").collect())
    assert got == [0.0, 1.0]


def test_temperature_weights_expected_size(spark):
    """alpha=1 -> all weights 1 (no change); alpha=0 -> uniform over
    sources; expected output size equals input size for any alpha."""
    import math

    from hail_spark.llmdata.sampling import temperature_weights

    rows = [("a",)] * 90 + [("b",)] * 9 + [("c",)] * 1
    df = spark.createDataFrame(rows, "source string")
    w1 = temperature_weights(df, "source", alpha=1.0)
    assert all(math.isclose(v, 1.0) for v in w1.values())
    w0 = temperature_weights(df, "source", alpha=0.0)
    # uniform over 3 sources: each source gets total/3 rows in expectation
    assert math.isclose(w0["c"] * 1, 100 / 3)
    for w in (w1, w0, temperature_weights(df, "source", alpha=0.3)):
        assert math.isclose(sum(w[s] * n for s, n in
                                [("a", 90), ("b", 9), ("c", 1)]), 100.0)


def test_bpe_roundtrip_lossless(spark):
    """encode(word_sep_id) then decode == lower+single-space text."""
    from hail_spark.llmdata.tokenizer import (
        bpe_decode_ids, bpe_encode_ids, bpe_train, bpe_vocab,
    )

    rows = [(1, "Hello  world hello"), (2, "the  Quick   brown fox"),
            (3, "singleword"), (4, "a b a b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mt = bpe_train(df, n_merges=10)
    merges = [(r["merge_left"], r["merge_right"])
              for r in mt.orderBy("rank").collect()]
    vocab = bpe_vocab(df, merges)
    sep = len(vocab) + 3
    enc = bpe_encode_ids(df, merges, vocab, word_sep_id=sep)
    dec = bpe_decode_ids(enc, vocab, word_sep_id=sep)
    got = {r["doc_id"]: r["decoded"] for r in dec.collect()}
    want = {i: " ".join(t.lower().split()) for i, t in rows}
    assert got == want
    # without the separator the decode is the space-free concatenation
    enc0 = bpe_encode_ids(df, merges, vocab)
    dec0 = bpe_decode_ids(enc0, vocab)
    got0 = {r["doc_id"]: r["decoded"] for r in dec0.collect()}
    assert got0 == {i: "".join(t.lower().split()) for i, t in rows}
