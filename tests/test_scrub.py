

def test_text_normalize_unicode(spark):
    from hail_spark.llmdata.scrub import text_normalize
    from pyspark.sql import functions as F

    rows = [
        (1, "a\u200bb\u00adc"),                      # zero-width/soft hyphen
        (2, "\u201chi\u201d \u2014 it\u2019s"),    # quotes/dash fold
        (3, "x\u0007y\t z\r\n w"),                 # control + ws collapse
        (4, "\u00a0 lead\u3000trail \u202f"),       # unicode spaces
        (5, "wait\u2026 what"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["t"] for r in
           df.select("id", text_normalize(F.col("text")).alias("t")).collect()}
    assert got[1] == "abc"
    assert got[2] == '"hi" - it\u0027s'.replace("\\u0027", "'")
    assert got[3] == "xy z w"
    assert got[4] == "lead trail"
    assert got[5] == "wait... what"
    assert got[6] is None or got[6] == ""


_TEXT_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(COALESCE(text, ''),
      '[\x{200b}\x{200c}\x{200d}\x{2060}\x{feff}\x{00ad}]', '', 'g'),
      '[\x{0000}-\x{0008}\x{000b}\x{000c}\x{000e}-\x{001f}\x{007f}-\x{009f}]', '', 'g'),
      '[\x{2018}\x{2019}\x{201a}\x{201b}]', chr(39), 'g'),
      '[\x{201c}\x{201d}\x{201e}\x{201f}]', '"', 'g'),
      '[\x{2010}-\x{2015}\x{2212}]', '-', 'g'),
      '\x{2026}', '...', 'g'),
      '[\x{00a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]', ' ', 'g'),
      '\s+', ' ', 'g')) AS t
  FROM documents)
SELECT doc_id, t FROM n ORDER BY doc_id
"""


def test_text_normalize_matches_duckdb_oracle_on_unicode(spark):
    # the documents corpus is ASCII; pin the unicode rules against a
    # DuckDB replay so the two engines cannot drift
    import duckdb

    from hail_spark.llmdata.scrub import text_normalize
    from pyspark.sql import functions as F

    rows = [
        (1, "a\u200bb \u201cq\u201d \u2013 c\u2026  d\u00a0e"),
        (2, "\u2018x\u2019\u0008y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", text_normalize(F.col("text")).alias("t")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {r[0]: r[1] for r in con.execute(_TEXT_NORMALIZE_SQL).fetchall()}
    assert got == want
