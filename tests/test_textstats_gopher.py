"""Gopher-style repetition/quality signal tests (Rae et al. 2021 A1.1
rules over the documents table shape)."""

import pytest
from pyspark.sql import functions as F

from hail_spark.llmdata import textstats as ts


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], "text string").select(
        expr(F.col("text")).alias("v")
    ).first()["v"]


def test_duplicate_line_fraction(spark):
    assert _one(spark, "a\nb\nc", ts.duplicate_line_fraction) == 0.0
    assert abs(_one(spark, "a\na\nb\nb", ts.duplicate_line_fraction) - 0.5) < 1e-12
    # blank lines ignored
    assert abs(_one(spark, "a\n\n\na", ts.duplicate_line_fraction) - 0.5) < 1e-12
    assert _one(spark, "", ts.duplicate_line_fraction) == 0.0


def test_top_ngram_char_fraction(spark):
    # "x y" bigram appears 3 times out of 5 bigrams; doc length 11 chars
    v = _one(spark, "x y x y x y", lambda t: ts.top_ngram_char_fraction(t, 2))
    assert abs(v - 3 * 3 / 11) < 1e-9
    assert _one(spark, "one", lambda t: ts.top_ngram_char_fraction(t, 2)) == 0.0


def test_duplicate_ngram_char_fraction(spark):
    # all 3-grams distinct -> 0
    assert _one(
        spark, "a b c d e", lambda t: ts.duplicate_ngram_char_fraction(t, 3)
    ) == 0.0
    # heavily repeated text -> high fraction
    v = _one(
        spark, "spam ham " * 30, lambda t: ts.duplicate_ngram_char_fraction(t, 3)
    )
    assert v > 0.5


def test_symbol_word_ratio(spark):
    assert _one(spark, "plain words here", ts.symbol_word_ratio) == 0.0
    v = _one(spark, "x # y #", ts.symbol_word_ratio)
    assert abs(v - 2 / 4) < 1e-12


def test_bullet_ellipsis_fractions(spark):
    v = _one(spark, "- a\n- b\nplain\ntrailing...", ts.bullet_ellipsis_fractions)
    assert abs(v["bullet_frac"] - 0.5) < 1e-12
    assert abs(v["ellipsis_frac"] - 0.25) < 1e-12


def test_gopher_quality_filter(spark):
    good = ("the quick brown fox jumps over the lazy dog and keeps going with "
            "plenty of normal words to be sure that we clear the minimum word "
            "count threshold for the gopher rules easily today because this "
            "sentence keeps adding more and more perfectly ordinary words "
            "until we are comfortably past fifty tokens in total here now")
    spam = "buy now " * 60
    rows = spark.createDataFrame(
        [("g", good), ("s", spam)], "id string, text string"
    ).select("id", ts.gopher_quality_filter(F.col("text")).alias("keep")).collect()
    got = {r["id"]: r["keep"] for r in rows}
    assert got["g"] is True
    assert got["s"] is False  # no stopword hits


def test_signals_on_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    out = docs.select(
        "doc_id",
        ts.duplicate_line_fraction(F.col("text")).alias("dlf"),
        ts.top_ngram_char_fraction(F.col("text"), 2).alias("top2"),
        ts.symbol_word_ratio(F.col("text")).alias("swr"),
        ts.gopher_quality_filter(F.col("text")).alias("keep"),
    ).collect()
    assert len(out) == 100
    for r in out:
        assert 0.0 <= r["dlf"] <= 1.0
        assert 0.0 <= r["top2"] <= 1.0
        assert r["swr"] >= 0.0


def test_pii_redaction_and_counts(spark):
    from pyspark.sql import functions as F

    from hail_spark.llmdata.scrub import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            {"i": 1, "t": "mail bob.smith+x@corp.example.org or call (555) 123-4567 ok"},
            {"i": 2, "t": "server 10.0.255.7 and ssn 123-45-6789 inside"},
            {"i": 3, "t": "no pii here, just words and 12345 numbers"},
            {"i": 4, "t": "version 1.2.3.4.5 is not an ip boundary test 999.1.1.1"},
        ]
    )
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            redact_pii(F.col("t")).alias("red"),
            pii_counts(F.col("t")).alias("c"),
        ).collect()
    }
    assert out[1]["red"] == "mail <EMAIL> or call <PHONE> ok"
    assert out[1]["c"]["n_email"] == 1 and out[1]["c"]["n_phone"] == 1
    assert out[2]["red"] == "server <IP> and ssn <SSN> inside"
    assert out[2]["c"]["n_ip"] == 1 and out[2]["c"]["n_ssn"] == 1
    assert out[3]["red"] == "no pii here, just words and 12345 numbers"
    # 1.2.3.4.5 must NOT match (boundary guards); 999.x is not an octet
    assert out[4]["c"]["n_ip"] == 0


def test_domain_blocklist_filter(spark):
    from hail_spark.llmdata.scrub import extract_urls, filter_by_domain_blocklist

    docs = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "link https://spam.example.com/x and more"},
            {"doc_id": 2, "text": "see https://sub.deep.spam.example.com/y"},
            {"doc_id": 3, "text": "fine https://ok.org/page stays"},
            {"doc_id": 4, "text": "no links at all"},
            {"doc_id": 5, "text": "http://EXAMPLE.com/CASE insensitive"},
        ]
    )
    bl = spark.createDataFrame([{"domain": "example.com"}, {"domain": "bad.net"}])
    kept = sorted(
        r["doc_id"] for r in filter_by_domain_blocklist(docs, bl).collect()
    )
    # 1, 2, 5 blocked (subdomain + case); 3, 4 kept
    assert kept == [3, 4]
    flagged = sorted(
        r["doc_id"]
        for r in filter_by_domain_blocklist(docs, bl, keep_clean=False).collect()
    )
    assert flagged == [1, 2, 5]
    urls = docs.filter("doc_id = 2").select(
        extract_urls(docs["text"]).alias("u")
    ).first()["u"]
    assert urls == ["https://sub.deep.spam.example.com/y"]


def test_url_normalize_and_dedup(spark):
    from pyspark.sql import functions as F

    from hail_spark.llmdata.scrub import url_dedup, url_normalize

    cases = [
        ("https://www.Example.COM/Path/?utm_source=x", "https://example.com/Path"),
        ("https://example.com:443/Path", "https://example.com/Path"),
        ("http://example.com:80/a#frag", "http://example.com/a"),
        ("https://example.com/a?x=1&utm_medium=m&y=2", "https://example.com/a?x=1&y=2"),
        ("https://example.com/a?utm_a=1&utm_b=2", "https://example.com/a"),
        ("https://example.com/a?ref=abc", "https://example.com/a"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a/", "https://example.com/a"),
        ("https://example.com/a?x=1", "https://example.com/a?x=1"),
        ("https://sub.example.com:8080/a", "https://sub.example.com:8080/a"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in
           df.select("i", url_normalize(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"{cases[i][0]} -> {got[i]} != {want}"

    # dedup: 4 variants of one page + 1 distinct page
    rows = [
        (1, "https://www.example.com/p/1?utm_source=a"),
        (2, "https://example.com:443/p/1"),
        (3, "https://example.com/p/1#frag"),
        (4, "https://example.com/p/1"),
        (5, "https://example.com/p/2"),
    ]
    out = {r["canonical_url"]: r for r in
           url_dedup(spark.createDataFrame(rows, "doc_id long, url string")).collect()}
    assert out["https://example.com/p/1"]["keep_id"] == 1
    assert out["https://example.com/p/1"]["n_copies"] == 4
    assert out["https://example.com/p/2"]["n_copies"] == 1


def test_hashed_linear_score(spark):
    import math

    from pyspark.sql import functions as F

    from hail_spark.llmdata.dedup import md5_int
    from hail_spark.llmdata.textstats import hashed_linear_score

    docs = spark.createDataFrame(
        [(1, "good doc words here"), (2, "bad"), (3, "")],
        "doc_id long, text string",
    )
    # weights: every bucket of doc 1's tokens gets +2, doc 2's gets -2
    tok_buckets = {
        r["w"]: r["b"]
        for r in spark.createDataFrame(
            [(w,) for w in "good doc words here bad".split()], "w string"
        ).select("w", (md5_int(F.col("w")) % 4096).alias("b")).collect()
    }
    wrows = [(tok_buckets[w], 2.0) for w in "good doc words here".split()]
    wrows += [(tok_buckets["bad"], -2.0)]
    weights = spark.createDataFrame(wrows, "bucket long, weight double")
    out = {r["doc_id"]: r for r in
           hashed_linear_score(docs, weights, n_buckets=4096).collect()}
    assert abs(out[1]["score"] - 1 / (1 + math.exp(-2.0))) < 1e-12
    assert abs(out[2]["score"] - 1 / (1 + math.exp(2.0))) < 1e-12
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 1
    # empty doc has no tokens -> no row (nothing to score)
    assert 3 not in out


def test_compression_ratio(spark):
    import zlib

    from hail_spark.llmdata.textstats import compression_ratio

    rows = [
        (1, "aaaaaaaaaa" * 50),                     # highly repetitive
        (2, "the quick brown fox jumps over it"),   # short prose
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    # repetitive text compresses hard
    assert out[1]["ratio"] < 0.1
    # matches direct zlib exactly
    raw = rows[1][1].encode()
    assert abs(out[2]["ratio"] - len(zlib.compress(raw, 6)) / len(raw)) < 1e-12
    assert out[3]["ratio"] is None and out[4]["ratio"] is None


