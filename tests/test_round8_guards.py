"""Round-8 guards: the fixed-width \\x01 corruption guard, pagerank
block hygiene, unigram distributed-EM parity and the query_table
key-range manifest."""

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------- #
# fixed-width \x01 corruption guard
# --------------------------------------------------------------------- #
def test_fixed_width_x01_line_raises(spark, tmp_path):
    from hail_spark.io.impex import import_fixed_width

    fields = [("name", 1, 4, "string"), ("qty", 5, 3, "int")]
    good = tmp_path / "good.txt"
    good.write_text("HDRXXXX\nabcd123\nefgh456\n")
    t = import_fixed_width(spark, str(good), fields, skip_header=1)
    assert sorted(map(tuple, t.df.collect())) == [("abcd", 123), ("efgh", 456)]

    # DEFAULT skip_header=1 path is byte-exact (wholetext): any control
    # bytes — lone, trailing, or the full \x01\x02\x03 sequence — parse
    # identically to the plain line reader. Header kept castable so the
    # skip_header=0 comparison frame can evaluate the int field.
    bad = tmp_path / "bad.txt"
    bad.write_bytes(b"hdrx000\nab\x01d123\nefgh456\x01\nef\x01\x02\x03h456\n")
    fields_s = [("a", 1, 4, "string"), ("b", 5, 3, "string")]
    t1 = import_fixed_width(spark, str(bad), fields_s, skip_header=1)
    t0 = import_fixed_width(spark, str(bad), fields_s, skip_header=0)
    got1 = sorted(map(tuple, t1.df.collect()))
    got0 = sorted(map(tuple, t0.df.collect()))
    assert got1 == [t for t in got0 if t != ("hdrx", "000")]
    assert ("ab\x01d", "123") in got1  # the \x01 byte survived verbatim
    assert ("ef\x01\x02", "\x03h4") in got1  # even the full sequence

    # the opt-in splittable fast path: lone control bytes pass through
    # verbatim; an INTERIOR full separator sequence raises loudly
    fast = tmp_path / "fast.txt"
    fast.write_bytes(b"hdrx000\nab\x01d123\nefgh456\n")
    tf = import_fixed_width(
        spark, str(fast), fields, skip_header=1, splittable_header_skip=True
    )
    assert sorted(map(tuple, tf.df.collect())) == [
        ("ab\x01d", 123), ("efgh", 456)
    ]
    seq = tmp_path / "seq.txt"
    seq.write_bytes(b"HDRXXXX\nabcd123\nef\x01\x02\x03h456\n")
    with pytest.raises(Exception, match="x01"):
        import_fixed_width(
            spark, str(seq), fields, skip_header=1, splittable_header_skip=True
        ).df.collect()


# --------------------------------------------------------------------- #
# pagerank block hygiene: exactly one rank-table block set survives
# --------------------------------------------------------------------- #
def test_pagerank_releases_checkpoint_blocks(spark):
    from hail_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 50, (i * 7 + 1) % 50) for i in range(300)], "src long, dst long"
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    r = pagerank(edges, n_iter=12, redistribute_dangling=True)
    assert abs(sum(x["rank"] for x in r.collect()) - 1.0) < 1e-9
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    # only the returned (checkpointed) rank table may remain — statics
    # and superseded per-iteration checkpoints are released eagerly
    assert after <= before + 1


# --------------------------------------------------------------------- #
# unigram distributed EM: exact parity with the driver-side path (the
# Viterbi-optimality property therefore transfers — both paths segment
# with the same _uni_viterbi over the same integer counts)
# --------------------------------------------------------------------- #
def test_unigram_distributed_em_matches_driver_path(spark):
    from hail_spark.llmdata import tokenizer
    from hail_spark.llmdata.tokenizer import unigram_train

    rows = [(i, "the thing sings a song " * 2) for i in range(15)]
    rows += [(100 + i, "another ring brings things along") for i in range(7)]
    rows += [(200 + i, f"rare{i % 3} words appear here") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    driver = unigram_train(df, vocab_size=48, n_em_iters=3)
    d_rows = sorted(map(tuple, driver.collect()))

    old = tokenizer.SMALL_VOCAB_CUTOFF
    tokenizer.SMALL_VOCAB_CUTOFF = 0  # force the distributed EM
    try:
        dist = unigram_train(df, vocab_size=48, n_em_iters=3, sample_docs=None)
        x_rows = sorted(map(tuple, dist.collect()))
    finally:
        tokenizer.SMALL_VOCAB_CUTOFF = old
    assert d_rows == x_rows  # bit-for-bit: ids, pieces, log probs, counts


def test_unigram_distributed_em_no_word_table_collect(spark):
    """sample_docs=None over the cutoff must TRAIN (the old behavior
    raised) and the trained vocab must encode/decode losslessly."""
    from hail_spark.llmdata import tokenizer
    from hail_spark.llmdata.tokenizer import (
        unigram_decode_ids,
        unigram_encode_ids,
        unigram_train,
    )

    df = spark.createDataFrame(
        [(i, "encode decode parity check words") for i in range(10)],
        "doc_id long, text string",
    )
    old = tokenizer.SMALL_VOCAB_CUTOFF
    tokenizer.SMALL_VOCAB_CUTOFF = 0
    try:
        pieces_df = unigram_train(df, vocab_size=64, sample_docs=None)
        pieces = [
            (r["piece"], r["log_prob"], r["piece_id"])
            for r in pieces_df.collect()
        ]
        enc = unigram_encode_ids(df, pieces)
        dec = unigram_decode_ids(enc, pieces)
        # decode concatenates pieces without word boundaries by design
        bad = dec.filter(
            F.col("decoded") != F.regexp_replace(F.lower("text"), r"\s+", "")
        )
        assert enc.count() == 10 and bad.count() == 0
    finally:
        tokenizer.SMALL_VOCAB_CUTOFF = old


# --------------------------------------------------------------------- #
# query_table key-range manifest: written at Table.write time, a point
# lookup opens only the files whose range covers the probe
# --------------------------------------------------------------------- #
def test_query_table_manifest_prunes_file_opens(spark, tmp_path):
    import json
    import os
    from unittest import mock

    from hail_spark.io import query_table as qt
    from hail_spark.table import Table

    df = (
        spark.range(4000)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartition(8, "k")
    )
    p = str(tmp_path / "t")
    # keep the key-sorted write multi-file despite AQE's small-data
    # coalescing, so the file-pruning assertion below is meaningful
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", None)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        Table(df, key=("k",)).write(p)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        else:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    assert os.path.exists(os.path.join(p, "_key_manifest.json"))
    with open(os.path.join(p, "_key_manifest.json")) as f:
        manifest = json.load(f)
    n_files = len(manifest["files"])
    assert n_files >= 2  # multi-file layout or the pruning claim is vacuous

    real = qt.pq.ParquetFile
    with mock.patch.object(qt.pq, "ParquetFile", side_effect=real) as spy:
        rows = qt.query_table(p, point=1234)
        assert [r["v"] for r in rows] == [3702]
        # key-sorted write = disjoint file ranges: exactly ONE file
        # covers the probe; without the manifest every footer opens
        assert spy.call_count == 1

    # a file the manifest doesn't know about invalidates it (no
    # silent skips), and lookups fall back to footer pruning
    extra_src = sorted(
        f for f in os.listdir(os.path.join(p, "rows")) if f.endswith(".parquet")
    )[0]
    import shutil

    shutil.copy(
        os.path.join(p, "rows", extra_src),
        os.path.join(p, "rows", "part-extra.parquet"),
    )
    with mock.patch.object(qt.pq, "ParquetFile", side_effect=real) as spy2:
        rows2 = qt.query_table(p, point=1234)
        assert [r["v"] for r in rows2] == [3702]
        assert spy2.call_count > 1  # fallback listed+opened everything


