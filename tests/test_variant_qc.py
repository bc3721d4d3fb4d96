"""variant_qc against a numpy reference computed from the same Python
data, with its pinned schema; and the SQL-built QC expressions of
variant_qc and sample_qc: entry-field names that need quoting, an
absent call field, and the Py4J round trips a build costs."""

import numpy as np
import pytest
from conftest import py4j_round_trips
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hail_spark.expr.stats import hardy_weinberg_full
from hail_spark.matrixtable import ENTRIES, MatrixTable
from hail_spark.methods.qc import sample_qc, variant_qc

N_ROWS, N_COLS = 40, 7
NULL_ROW, NO_CALL_ROW, NO_DP_ROW = 5, 9, 13

_STATS = StructType([StructField(f, DoubleType()) for f in ("mean", "stdev", "min", "max")])
SCHEMA = StructType(
    [
        StructField("call_rate", DoubleType()),
        *[StructField(f, IntegerType()) for f in ("n_called", "n_not_called")],
        StructField("n_filtered", LongType()),
        *[StructField(f, IntegerType()) for f in ("n_het", "n_hom_ref", "n_hom_var", "n_non_ref")],
        StructField("homozygote_count", ArrayType(IntegerType()), False),
        StructField("AN", IntegerType()),
        StructField("AC", ArrayType(IntegerType()), False),
        StructField("AF", ArrayType(DoubleType()), False),
        StructField("het_freq", DoubleType()),
        StructField("dp_stats", _STATS, False),
        StructField("gq_stats", _STATS, False),
        *[StructField(f, DoubleType()) for f in ("het_freq_hwe", "p_value_hwe", "p_value_excess_het")],
    ]
)


def _random_rows(rng):
    """NULL entry structs, NULL GT, NULL DP and GQ, one row with NULL
    entries, one row without any call and one without any DP."""
    rows = []
    for i in range(N_ROWS):
        entries = None
        if i != NULL_ROW:
            entries = []
            for _ in range(N_COLS):
                if rng.random() < 0.1:
                    entries.append(None)
                    continue
                entries.append({
                    "GT": None if i == NO_CALL_ROW or rng.random() < 0.15 else int(rng.integers(0, 3)),
                    "DP": None if i == NO_DP_ROW or rng.random() < 0.15 else int(rng.integers(1, 80)),
                    "GQ": None if rng.random() < 0.15 else int(rng.integers(0, 99)),
                })
        rows.append({"locus": {"contig": "1", "position": 100 + i}, "alleles": ["A", "G"], ENTRIES: entries})
    return rows


def _matrix(spark, rows, gt="GT", extra=""):
    gt = "`" + gt.replace("`", "``") + "`"
    df = spark.createDataFrame(
        rows,
        "locus struct<contig:string,position:int>, alleles array<string>, "
        f"{ENTRIES} array<struct<{gt}:bigint,DP:int,GQ:int{extra}>>",
    ).repartition(3)
    return MatrixTable(df, ("locus", "alleles"), [{"s": f"s{j}"} for j in range(N_COLS)], ("s",))


def _stats(values):
    if not values:
        return dict.fromkeys(("mean", "stdev", "min", "max"))
    v = np.array(values, dtype=float)
    return {"mean": v.mean(), "stdev": v.std(), "min": v.min(), "max": v.max()}


def _reference(entries):
    """Every variant_qc field of one row, from its Python entries."""
    if entries is None:
        out = dict.fromkeys(f.name for f in SCHEMA.fields)
        out.update(homozygote_count=[None, None], AC=[None, None], AF=[None, None],
                   dp_stats=_stats([]), gq_stats=_stats([]))
        return out
    called = [e["GT"] for e in entries if e is not None and e["GT"] is not None]
    n, an, ac = len(entries), 2 * len(called), sum(called)
    out = {
        "call_rate": len(called) / n,
        "n_called": len(called),
        "n_not_called": n - len(called),
        "n_filtered": sum(e is None for e in entries),
        "n_het": called.count(1),
        "n_hom_ref": called.count(0),
        "n_hom_var": called.count(2),
        "n_non_ref": sum(g > 0 for g in called),
        "homozygote_count": [called.count(0), called.count(2)],
        "AN": an,
        "AC": [an - ac, ac],
        "AF": [(an - ac) / an, ac / an] if an else [None, None],
        "het_freq": called.count(1) / len(called) if called else None,
    }
    for f in ("DP", "GQ"):
        out[f"{f.lower()}_stats"] = _stats([e[f] for e in entries if e is not None and e[f] is not None])
    hwe = hardy_weinberg_full(out["n_hom_ref"], out["n_het"], out["n_hom_var"])
    out.update({k: None if np.isnan(v) else v for k, v in hwe.items()})
    return out


def _assert_stats(got, want, where):
    assert (got["min"], got["max"]) == (want["min"], want["max"]), where
    for f in ("mean", "stdev"):
        assert got[f] == (None if want[f] is None else pytest.approx(want[f], rel=1e-9, abs=1e-12)), where


def test_variant_qc_matches_numpy_reference(spark):
    rows = _random_rows(np.random.default_rng(7))
    vq = variant_qc(_matrix(spark, rows))
    assert vq._df.schema["variant_qc"] == StructField("variant_qc", SCHEMA, False)
    got = {r["locus"]["position"]: r["variant_qc"].asDict() for r in vq.rows().df.collect()}
    assert sorted(got) == [100 + i for i in range(N_ROWS)]
    for i, r in enumerate(rows):
        want, have = _reference(r[ENTRIES]), got[100 + i]
        assert list(have) == SCHEMA.names
        for f in ("dp_stats", "gq_stats"):
            _assert_stats(have.pop(f).asDict(), want.pop(f), (i, f))
        assert have == want, i
    # the edge rows are in the data
    assert got[100 + NULL_ROW]["n_called"] is None
    assert got[100 + NO_CALL_ROW]["n_called"] == 0 and got[100 + NO_CALL_ROW]["AF"] == [None, None]
    assert got[100 + NO_DP_ROW]["n_called"] > 0


def _same_matrix_renamed(spark, name):
    rows = _random_rows(np.random.default_rng(8))
    renamed = [
        {**r, ENTRIES: r[ENTRIES] and [e and {name: e["GT"], "DP": e["DP"], "GQ": e["GQ"]} for e in r[ENTRIES]]}
        for r in rows
    ]
    return _matrix(spark, rows), _matrix(spark, renamed, gt=name)


@pytest.mark.parametrize("name", ["G`T", "G T"])
def test_gt_field_is_quoted(spark, name):
    mt, renamed = _same_matrix_renamed(spark, name)
    by_locus = lambda m: sorted(m.rows().df.collect())  # noqa: E731
    assert by_locus(variant_qc(renamed, gt_field=name)) == by_locus(variant_qc(mt))
    assert sample_qc(renamed, gt_field=name).collect() == sample_qc(mt).collect()


@pytest.mark.parametrize("method", [variant_qc, sample_qc], ids=["variant_qc", "sample_qc"])
def test_absent_gt_field_raises(spark, method):
    mt = _matrix(spark, _random_rows(np.random.default_rng(9)))
    with pytest.raises(AnalysisException, match="FIELD_NOT_FOUND"):
        method(mt, gt_field="GTX")


@pytest.mark.parametrize("extra", ["", ",AD:array<int>,PL:array<int>,phased:boolean"], ids=["3", "6"])
def test_qc_build_round_trips(spark, extra):
    """Building variant_qc (lazy) and running sample_qc cost about 91
    and 113 Py4J round trips, whatever the entry struct: each per-row
    expression is one SQL string, not one round trip per Column call
    (built with the Column API they cost about 1,960 and 1,080)."""
    mt = _matrix(spark, _random_rows(np.random.default_rng(10)), extra=extra)
    counts = {}
    for name, run in (("variant_qc", lambda: variant_qc(mt)), ("sample_qc", lambda: sample_qc(mt).collect())):
        run()  # first use of the code path
        with py4j_round_trips() as trips:
            run()
        counts[name] = trips.count
    assert counts["variant_qc"] < 1.5 * 91 and counts["sample_qc"] < 1.5 * 113, counts
