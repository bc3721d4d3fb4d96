"""Round-7 property tests: fuzzy_join exactness, unigram Viterbi
optimality + round trip, fixed-width round trip under random layouts."""

import numpy as np
import pytest
from pyspark.sql import functions as F  # noqa: F401


def test_fuzzy_join_matches_bruteforce(spark):
    """fuzzy_join ≡ brute-force levenshtein filter across random small
    string sets (PassJoin completeness + verify exactness; the guard
    must never fire on diverse keys)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hail_spark.operators.relational import fuzzy_join

    word = st.text(alphabet="abcd", min_size=0, max_size=6)

    @given(
        st.lists(word, min_size=1, max_size=12, unique=True),
        st.lists(word, min_size=1, max_size=12, unique=True),
        st.integers(1, 2),
    )
    @settings(max_examples=10, deadline=None)
    def check(lwords, rwords, d):
        def lev(a, b):
            m, n = len(a), len(b)
            dp = list(range(n + 1))
            for i in range(1, m + 1):
                prev, dp[0] = dp[0], i
                for j in range(1, n + 1):
                    cur = dp[j]
                    dp[j] = min(
                        dp[j] + 1,
                        dp[j - 1] + 1,
                        prev + (a[i - 1] != b[j - 1]),
                    )
                    prev = cur
            return dp[n]

        expect = {
            (i, j, lev(a, b))
            for i, a in enumerate(lwords)
            for j, b in enumerate(rwords)
            if lev(a, b) <= d
        }
        l = spark.createDataFrame(
            [(i, w) for i, w in enumerate(lwords)], "left_id long, w string"
        )
        r = spark.createDataFrame(
            [(j, w) for j, w in enumerate(rwords)], "right_id long, w string"
        )
        got = {
            (x["left_id"], x["right_id"], x["dist"])
            for x in fuzzy_join(l, r, "w", max_dist=d).collect()
        }
        assert got == expect

    check()


def test_unigram_viterbi_optimal_bruteforce():
    """_uni_viterbi finds the max-logprob segmentation: compare against
    exhaustive enumeration of all segmentations of short words."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hail_spark.llmdata.tokenizer import _UNK_LOGP, _uni_viterbi

    @given(
        st.text(alphabet="ab", min_size=1, max_size=7),
        st.dictionaries(
            st.text(alphabet="ab", min_size=1, max_size=3),
            st.integers(-64, -1).map(lambda k: k / 16.0),
            max_size=8,
        ),
    )
    @settings(max_examples=40, deadline=None)
    def check(word, vocab):
        max_len = max((len(p) for p in vocab), default=1)

        def all_scores(w):
            if not w:
                return [0.0]
            out = []
            for l in range(1, min(max_len, len(w)) + 1):
                piece = w[-l:]
                lp = vocab.get(piece)
                if lp is None:
                    if l != 1:
                        continue
                    lp = _UNK_LOGP
                out.extend(s + lp for s in all_scores(w[:-l]))
            return out

        best = max(all_scores(word))
        pieces, score = _uni_viterbi(word, vocab, max_len)
        assert score == pytest.approx(best, abs=1e-12)
        assert "".join(pieces) == word

    check()


def test_unigram_roundtrip_random_corpus(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hail_spark.llmdata.tokenizer import (
        unigram_decode_ids,
        unigram_encode_ids,
        unigram_train,
    )

    @given(
        st.lists(
            st.lists(
                st.text(alphabet="abcde", min_size=1, max_size=6),
                min_size=1,
                max_size=6,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    @settings(max_examples=5, deadline=None)
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        trained = unigram_train(df, vocab_size=64, n_em_iters=2)
        pieces = [
            (r["piece"], r["log_prob"], r["piece_id"])
            for r in trained.collect()
        ]
        dec = unigram_decode_ids(unigram_encode_ids(df, pieces), pieces)
        for r in dec.select("text", "decoded").collect():
            assert r["decoded"] == "".join(r["text"].lower().split())

    check()


def test_fixed_width_random_layout_roundtrip(spark, tmp_path):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hail_spark.io.impex import export_fixed_width, import_fixed_width

    counter = [0]

    @given(
        st.lists(
            st.tuples(st.integers(0, 99999), st.text(alphabet="xyz", max_size=3)),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=6, deadline=None)
    def check(rows):
        counter[0] += 1
        p = str(tmp_path / f"fw{counter[0]}")
        df = spark.createDataFrame(rows, "k long, s string")
        export_fixed_width(df, p, [("k", 6), ("s", 4)], n_files=1)
        back = import_fixed_width(
            spark, p, [("k", 1, 6, "bigint"), ("s", 7, 4, "string")]
        ).df
        assert sorted(map(tuple, back.collect())) == sorted(rows)

    check()
