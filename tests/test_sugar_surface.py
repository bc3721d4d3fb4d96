"""Table/MatrixTable convenience surface (ref table.py:3588-4566,
matrixtable.py:1942-4186): flatten, expand_types, summarize,
to_matrix_table(_row_major), transmute_globals, all/any, row/col
indices, sampling, head, rename, select_entries, drop."""

import numpy as np
from pyspark.sql import functions as F

from hail_spark.matrixtable import ENTRIES, MatrixTable
from hail_spark.table import Table


def test_table_flatten(spark):
    df = spark.createDataFrame(
        [({"p": 1, "q": "x"}, 5, {"x": "a", "y": [{"z": "w"}]})],
        "a struct<p:int,q:string>, b int, c struct<x:string,y:array<struct<z:string>>>",
    )
    t = Table(df, ("a",))
    out = t.flatten()
    assert set(out.df.columns) == {"a.p", "a.q", "b", "c.x", "c.y"}
    assert out.key == ("a.p", "a.q")
    r = out.df.collect()[0]
    assert r["a.p"] == 1 and r["c.x"] == "a"
    # arrays of structs are NOT flattened
    assert r["c.y"][0]["z"] == "w"
    assert t.expand_types().df.columns == out.df.columns


def test_table_summarize_and_allany(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (None, "a", 3.0)], "k int, s string, v double"
    )
    t = Table(df, ("k",))
    s = t.summarize()
    assert s["n_rows"] == 3
    assert s["k"]["missing"] == 1
    assert s["k"]["min"] == 1 and s["k"]["max"] == 2
    assert s["v"]["missing"] == 1
    assert t.all(F.col("s").isNotNull()) is True
    assert t.all(F.col("k").isNotNull()) is False
    assert t.any(F.col("v") > 2) is True
    assert t.any(F.col("v") > 99) is False


def test_table_describe(spark):
    t = Table(spark.range(3).select(F.col("id").alias("k")), ("k",))
    out = t.describe()
    assert "'k': bigint" in out and "Key: ['k']" in out


def test_to_matrix_table(spark):
    df = spark.createDataFrame(
        [("g1", "s1", 5), ("g1", "s2", 6), ("g2", "s1", 7)],
        "gene string, sample string, x int",
    )
    t = Table(df, ("gene",))
    mt = t.to_matrix_table(row_key=["gene"], col_key="sample")
    assert [c["sample"] for c in mt._cols] == ["s1", "s2"]
    rows = {r["gene"]: r[ENTRIES] for r in mt._df.collect()}
    assert [e["x"] for e in rows["g1"]] == [5, 6]
    assert rows["g2"][1] is None


def test_to_matrix_table_row_major(spark):
    df = spark.createDataFrame(
        [("g1", 1, 2), ("g2", 3, 4)], "gene string, s1 int, s2 int"
    )
    t = Table(df, ("gene",))
    mt = t.to_matrix_table_row_major(["s1", "s2"], entry_field_name="expr", col_field_name="sample")
    assert [c["sample"] for c in mt._cols] == ["s1", "s2"]
    rows = {r["gene"]: r[ENTRIES] for r in mt._df.collect()}
    assert [e["expr"] for e in rows["g2"]] == [3, 4]


def test_transmute_globals(spark):
    t = Table(spark.range(1), (), {"a": 1})
    out = t.transmute_globals(b=2)
    assert out.globals == {"a": 1, "b": 2}


def _mt(spark, n_rows=10, n_cols=4):
    rows = [
        {"locus": {"contig": "1", "position": i + 1},
         ENTRIES: [{"GT": (i + j) % 3} for j in range(n_cols)]}
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(
        rows, f"locus struct<contig:string,position:int>, {ENTRIES} array<struct<GT:int>>"
    )
    return MatrixTable(df, ("locus",), [{"s": f"s{j}"} for j in range(n_cols)], ("s",))


def test_mt_indices_and_head(spark):
    mt = _mt(spark)
    idx = mt.add_row_index()
    got = sorted(
        (r["locus"]["position"], r["row_idx"]) for r in idx._df.collect()
    )
    assert got == [(p + 1, p) for p in range(10)]
    ci = mt.add_col_index()
    assert [c["col_idx"] for c in ci._cols] == [0, 1, 2, 3]
    h = mt.head(3)
    assert sorted(r["locus"]["position"] for r in h._df.collect()) == [1, 2, 3]


def test_mt_sampling_deterministic(spark):
    mt = _mt(spark, n_rows=200)
    a = mt.sample_rows(0.3, seed=5)._df.count()
    b = mt.sample_rows(0.3, seed=5)._df.count()
    assert a == b
    assert 30 < a < 90
    sc = mt.sample_cols(0.5, seed=1)
    assert 0 <= len(sc._cols) <= 4
    sc2 = mt.sample_cols(0.5, seed=1)
    assert [c["s"] for c in sc._cols] == [c["s"] for c in sc2._cols]


def test_mt_rename_select_drop(spark):
    mt = _mt(spark)
    rn = mt.rename({"locus": "loc", "s": "sample"})
    assert rn._row_key == ("loc",)
    assert rn._col_key == ("sample",)
    assert rn._cols[0] == {"sample": "s0"}
    mt2 = mt.annotate_entries(lambda e: {"GT": e["GT"], "DP": e["GT"] * 2})
    sel = mt2.select_entries("DP")
    assert sel._entry_fields() == ["DP"]
    dropped = mt2.drop("DP")
    assert dropped._entry_fields() == ["GT"]


def test_top_level_parity_exports():
    import hail_spark as hs

    for n in hs.__all__:
        assert getattr(hs, n) is not None
    for n in hs._LAZY:
        assert getattr(hs, n) is not None, n
    assert hs.version() == hs.__version__
    assert "hail" in hs.citation()
    assert hs.get_reference("GRCh37").contigs[0] == "1"
    assert hs.default_reference().name == "GRCh37"


def test_global_seed_registry(spark):
    import hail_spark as hs
    from pyspark.sql import functions as F
    from hail_spark.expr import functions as hf

    df = spark.range(5)
    base = [r["u"] for r in df.select(hf.rand_unif(F.col("id")).alias("u")).collect()]
    hs.set_global_seed(42)
    try:
        seeded = [r["u"] for r in df.select(hf.rand_unif(F.col("id")).alias("u")).collect()]
        explicit = [
            r["u"]
            for r in df.select(hf.rand_unif(F.col("id"), seed=42).alias("u")).collect()
        ]
        assert seeded == explicit and seeded != base
    finally:
        hs.reset_global_randomness()
    again = [r["u"] for r in df.select(hf.rand_unif(F.col("id")).alias("u")).collect()]
    assert again == base


def test_hadoop_utils_roundtrip(tmp_path):
    import hail_spark as hs

    p = str(tmp_path / "f.txt")
    with hs.hadoop_open(p, "w") as f:
        f.write("abc")
    assert hs.hadoop_exists(p) and hs.hadoop_is_file(p)
    assert hs.hadoop_stat(p)["size_bytes"] == 3
    gz = str(tmp_path / "f.gz")
    with hs.hadoop_open(gz, "w") as f:
        f.write("zipped")
    with hs.hadoop_open(gz) as f:
        assert f.read() == "zipped"
    with hs.TemporaryFilename(suffix=".tmp") as name:
        assert not hs.hadoop_exists(name)
