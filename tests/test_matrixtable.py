"""MatrixTable semantics (modeled on the reference's
test/hail/matrixtable/test_matrix_table.py)."""

import pytest
from pyspark.sql import functions as F

from hail_spark.matrixtable import ENTRIES, MatrixTable
from hail_spark.methods import qc


@pytest.fixture(scope="module")
def mt(spark):
    # 4 variants x 3 samples, GT call ints with some missing
    rows = []
    gts = {
        ("1", 100): [0, 1, 2],
        ("1", 200): [None, 0, 0],
        ("2", 50): [1, 1, None],
        ("2", 75): [2, None, 2],
    }
    for (contig, pos), g in gts.items():
        for i, gt in enumerate(g):
            rows.append(
                {"contig": contig, "pos": pos, "s": f"s{i}", "GT": gt, "DP": 10 + i}
            )
    long = spark.createDataFrame(rows, schema="contig string, pos int, s string, GT int, DP int")
    return MatrixTable.from_long(
        long, row_key=["contig", "pos"], col_key="s", entry_fields=["GT", "DP"]
    )


def test_shape(mt):
    assert mt.count() == (4, 3)
    assert [c["s"] for c in mt._cols] == ["s0", "s1", "s2"]


def test_entries_long(mt):
    e = mt.entries()
    assert e.count() == 12  # posexplode_outer keeps missing entries
    assert set(e.row) >= {"contig", "pos", "s", "GT", "DP"}


def test_filter_rows(mt):
    assert mt.filter_rows(F.col("contig") == "1").count_rows() == 2


def test_filter_cols_choose(mt):
    sub = mt.filter_cols(lambda c: c["s"] != "s1")
    assert sub.count_cols() == 2
    e = sub.entries().filter(F.col("pos") == 100)
    gts = sorted([r["GT"] for r in e.collect()])
    assert gts == [0, 2]


def test_filter_entries_sets_missing(mt):
    f = mt.filter_entries(lambda e: e["GT"] > 0)
    res = f.aggregate_entries(n=F.count(F.col("GT")))
    assert res["n"] == 6  # GTs 1,2 / — / 1,1 / 2,2


def test_annotate_entries(mt):
    a = mt.annotate_entries(lambda e: {"GT2": e["GT"] * 2})
    res = a.aggregate_entries(s=F.sum("GT2"))
    assert res["s"] == 2 * (0 + 1 + 2 + 0 + 0 + 1 + 1 + 2 + 2)


def test_annotate_entries_with_cols(mt):
    a = mt.annotate_entries_with_cols(lambda e, c: {"tag": F.concat(c["s"], F.lit(":"), e["GT"].cast("string"))})
    e = a.entries().filter(F.col("pos") == 100)
    tags = sorted(r["tag"] for r in e.collect() if r["tag"] is not None)
    assert tags == ["s0:0", "s1:1", "s2:2"]


def test_variant_qc(mt):
    v = qc.variant_qc(mt)
    out = {(r["contig"], r["pos"]): r["variant_qc"] for r in v.rows().collect()}
    vq = out[("1", 100)]
    assert vq["n_called"] == 3 and vq["n_het"] == 1 and vq["AC"] == [3, 3]
    vq2 = out[("1", 200)]
    assert vq2["n_called"] == 2 and vq2["call_rate"] == pytest.approx(2 / 3)


def test_sample_qc(mt, spark):
    s = qc.sample_qc(mt)
    out = {r["s"]: r for r in s.collect()}
    assert out["s0"]["n_called"] == 3 and out["s0"]["n_het"] == 1
    assert out["s2"]["n_called"] == 3 and out["s2"]["n_hom_var"] == 2


def test_qc_int64_gt_matches_int32(spark):
    """GT arrives as int32 from import_vcf and as int64 from e.g. pandas
    or JSON sources; QC output must not depend on the width."""
    rows = [
        {
            "locus": {"contig": "1", "position": 100 + v},
            "alleles": ["A", "T"],
            "__entries": [
                {"GT": g, "DP": 20 + v, "GQ": 30, "AD": [1, 19 + v]}
                for g in ([2, 1, 0, None, 2] if v % 2 else [2, 2, 1, 0, 0])
            ],
        }
        for v in range(6)
    ]
    cols = [{"s": f"s{j}"} for j in range(5)]

    def run(gt_type):
        df = spark.createDataFrame(
            rows,
            "locus struct<contig:string,position:int>, alleles array<string>, "
            f"__entries array<struct<GT:{gt_type},DP:int,GQ:int,AD:array<int>>>",
        )
        m = MatrixTable(df, ("locus", "alleles"), cols, ("s",))
        vq = sorted(qc.variant_qc(m).rows().df.select("locus", "variant_qc").collect())
        by_s = lambda r: r["s"]  # noqa: E731
        sq = sorted(qc.sample_qc(m).collect(), key=by_s)
        ch = sorted(qc.compute_charr(m, min_af=0.0, max_af=1.0, min_dp=1, min_gq=1).collect(), key=by_s)
        return vq, sq, ch

    assert run("bigint") == run("int")


def test_group_rows_by(mt):
    g = mt.group_rows_by("contig").aggregate(
        mean_dp=lambda e: F.avg(e["DP"]), n_called=lambda e: F.count(e["GT"])
    )
    assert g.count_rows() == 2
    e = g.entries()
    row = {(r["contig"], r["s"]): r["n_called"] for r in e.collect()}
    assert row[("1", "s0")] == 1  # one defined GT for s0 on contig 1


def test_union_rows_cols(mt):
    u = mt.union_rows(mt)
    assert u.count() == (8, 3)
    mt2 = mt.choose_cols([0, 1])
    mt3 = mt.choose_cols([2])
    uc = mt2.union_cols(mt3)
    assert uc.count() == (4, 3)


def test_unfilter_entries(mt):
    f = mt.filter_entries(lambda e: e["GT"] > 0).unfilter_entries({"GT": 0, "DP": 0})
    res = f.aggregate_entries(n=F.count("GT"), s=F.sum("DP"))
    assert res["n"] == 12


def test_write_read(mt, spark, tmp_path):
    p = str(tmp_path / "m.hsm")
    mt.write(p, overwrite=True)
    m2 = MatrixTable.read(spark, p)
    assert m2.count() == (4, 3)
    assert m2.col_key == ("s",)


def test_semi_anti_join_rows(mt, spark):
    from hail_spark.table import Table

    keys = spark.createDataFrame(
        [("1", 100), ("2", 50)], "contig string, pos int"
    )
    kt = Table(keys, ("contig", "pos"))
    assert mt.semi_join_rows(kt).count_rows() == 2
    assert mt.anti_join_rows(kt).count_rows() == 2
    got = sorted(
        (r["contig"], r["pos"]) for r in mt.semi_join_rows(kt).rows().collect()
    )
    assert got == [("1", 100), ("2", 50)]


def test_semi_anti_join_cols(mt, spark):
    from hail_spark.table import Table

    kt = Table(spark.createDataFrame([("s0",), ("s2",)], "s string"), ("s",))
    semi = mt.semi_join_cols(kt)
    assert [c["s"] for c in semi._cols] == ["s0", "s2"]
    anti = mt.anti_join_cols(kt)
    assert [c["s"] for c in anti._cols] == ["s1"]
    # entries follow the kept cols
    e = semi.entries().filter(F.col("pos") == 100)
    assert sorted(r["GT"] for r in e.collect()) == [0, 2]


def test_annotate_rows_table(mt, spark):
    from hail_spark.table import Table

    ann = spark.createDataFrame(
        [("1", 100, "geneA"), ("2", 75, "geneB")],
        "contig string, pos int, gene string",
    )
    out = mt.annotate_rows_table(Table(ann, ("contig", "pos")))
    got = {(r["contig"], r["pos"]): r["gene"] for r in out.rows().collect()}
    assert got[("1", 100)] == "geneA"
    assert got[("2", 75)] == "geneB"
    assert got[("1", 200)] is None
    assert out.count_rows() == 4


def test_annotate_rows_table_interval(mt, spark):
    from hail_spark.table import Table

    iv = spark.createDataFrame(
        [(40, 120, "low"), (100, 300, "mid")], "start int, end int, band string"
    )
    out = mt.annotate_rows_table(
        Table(iv, ()), interval=("start", "end"), point=F.col("pos")
    )
    assert out.count_rows() == 4  # overlapping intervals never duplicate rows
    got = {(r["contig"], r["pos"]): r["band"] for r in out.rows().collect()}
    assert got[("1", 100)] == "low"  # pos 100 in both; lowest start wins
    assert got[("1", 200)] == "mid"
    assert got[("2", 50)] == "low"
    assert got[("2", 75)] == "low"


def test_annotate_cols_table(mt, spark):
    from hail_spark.table import Table

    ph = spark.createDataFrame(
        [("s0", 1.5), ("s2", 2.5)], "s string, pheno double"
    )
    out = mt.annotate_cols_table(Table(ph, ("s",)))
    assert [c.get("pheno") for c in out._cols] == [1.5, None, 2.5]


def test_distinct_by_row(mt):
    doubled = mt.union_rows(mt)
    assert doubled.count_rows() == 8
    assert doubled.distinct_by_row().count_rows() == 4


def test_group_cols_by_aggregate(mt):
    mt2 = mt.annotate_cols(lambda c: {"pop": "A" if c["s"] in ("s0", "s2") else "B"})
    g = mt2.group_cols_by("pop").aggregate(
        n_called=lambda es: F.size(F.filter(es, lambda e: e["GT"].isNotNull())),
        sum_gt=lambda es: F.aggregate(
            es, F.lit(0), lambda acc, e: acc + F.coalesce(e["GT"], F.lit(0))
        ),
    )
    assert g.count_cols() == 2
    assert g.col_key == ("pop",)
    row = {
        (r["contig"], r["pos"]): r
        for r in g._df.collect()
    }
    ent = row[("1", 100)][ENTRIES]
    by_pop = dict(zip([c["pop"] for c in g._cols], ent))
    assert by_pop["A"]["n_called"] == 2 and by_pop["A"]["sum_gt"] == 2  # GT 0,2
    assert by_pop["B"]["n_called"] == 1 and by_pop["B"]["sum_gt"] == 1  # GT 1


def test_collect_cols_by_key(mt):
    # duplicate col keys: tag each sample with a batch, key by batch
    mt2 = MatrixTable(
        mt._df,
        mt._row_key,
        [{"batch": "b1" if c["s"] != "s2" else "b2", "s": c["s"]} for c in mt._cols],
        ("batch",),
    )
    cc = mt2.collect_cols_by_key()
    assert sorted(c["batch"] for c in cc._cols) == ["b1", "b2"]
    b1 = next(c for c in cc._cols if c["batch"] == "b1")
    assert b1["s"] == ["s0", "s1"]
    row = next(
        r for r in cc._df.collect() if (r["contig"], r["pos"]) == ("1", 100)
    )
    ent = dict(zip([c["batch"] for c in cc._cols], row[ENTRIES]))
    assert ent["b1"]["GT"] == [0, 1]
    assert ent["b2"]["GT"] == [2]


def test_inbreeding_aggregator(mt):
    from hail_spark.expr import aggregators as agg

    e = mt.entries()
    af = 0.5
    res = (
        e.df.agg(agg.inbreeding(F.col("GT"), F.lit(af)).alias("ib"))
        .collect()[0]["ib"]
        .asDict()
    )
    # called GTs: 0,1,2,0,0,1,1,2,2 → n=9, obs_hom=6, exp_hom=9*(1-2*.25)=4.5
    assert res["n_called"] == 9
    assert res["observed_homs"] == 6
    assert res["expected_homs"] == pytest.approx(4.5)
    assert res["f_stat"] == pytest.approx((6 - 4.5) / (9 - 4.5))
