"""Per-sample QC (sample_qc, compute_charr) against numpy references
computed from the same Python data, plus the shape guarantees of their
results: pinned schema, column order, NULL handling, malformed input,
and per-sample frames that collect without a Spark job."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hail_spark.matrixtable import ENTRIES, MatrixTable
from hail_spark.methods import qc
from hail_spark.methods.qc import compute_charr, sample_qc
from hail_spark.methods.statgen import hwe_normalized_pca

N_ROWS, N_COLS = 48, 9
NO_CALL_SAMPLE = 4
TRANSITIONS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}
# (ref, alt) pairs covering every allele category
ALLELES = [
    ("A", "G"),    # SNP, transition
    ("C", "A"),    # SNP, transversion
    ("AC", "GT"),  # MNP
    ("A", "AT"),   # insertion
    ("AT", "A"),   # deletion
    ("AT", "*"),   # star
    ("A", "*"),    # one base each side: the length rules classify it as a SNP transversion
    ("AC", "T"),   # complex
]


def _allele_kind(ref: str, alt: str) -> str:
    """The engine's allele categories (expr.functions.allele_type),
    written out from their length and prefix definitions."""
    if len(ref) == 1 and len(alt) == 1 and ref != alt:
        return "SNP"
    if len(ref) > 1 and len(ref) == len(alt) and ref != alt:
        return "MNP"
    if len(ref) < len(alt) and alt.startswith(ref):
        return "Insertion"
    if len(ref) > len(alt) and ref.startswith(alt):
        return "Deletion"
    if alt == "*":
        return "Star"
    return "Unknown" if ref == alt else "Complex"


SCHEMA = StructType(
    [StructField(f, LongType()) for f in (
        "n_total n_called n_filtered n_het n_hom_ref n_hom_var n_non_ref".split()
    )]
    + [StructField("call_rate", DoubleType()), StructField("n_singleton", LongType())]
    + [
        StructField(name, StructType([StructField(f, DoubleType()) for f in ("mean", "stdev", "min", "max")]))
        for name in ("dp_stats", "gq_stats")
    ]
    + [StructField(f, LongType()) for f in (
        "n_snp n_insertion n_deletion n_transition n_transversion n_star".split()
    )]
    + [StructField(f, DoubleType()) for f in ("r_het_hom_var", "r_ti_tv", "r_insertion_deletion")]
    + [
        StructField("n_not_called", LongType()),
        StructField("batch", LongType()),
        StructField("pheno", DoubleType()),
        StructField("s", StringType()),
    ]
)


def _random_matrix(rng):
    """Python rows of a random matrix: NULL entry structs, NULL GT, NULL
    DP, one row with NULL entries, every allele category, rows with a
    single het call (singletons), and one sample without any call."""
    rows = []
    for i in range(N_ROWS):
        ref, alt = ALLELES[i % len(ALLELES)]
        if i == 5:
            entries = None
        else:
            if i % 6 == 1:  # one het call, everything else hom-ref: AC == 1
                gts = [0] * N_COLS
                gts[int(rng.integers(N_COLS))] = 1
            else:
                gts = [int(g) for g in rng.integers(0, 3, N_COLS)]
            entries = []
            for j, g in enumerate(gts):
                if rng.random() < 0.06:
                    entries.append(None)
                    continue
                no_call = j == NO_CALL_SAMPLE or rng.random() < 0.1
                entries.append({
                    "GT": None if no_call else g,
                    "DP": None if j == NO_CALL_SAMPLE or rng.random() < 0.1 else int(rng.integers(1, 80)),
                    "GQ": int(rng.integers(0, 99)),
                })
        rows.append({"locus": {"contig": "1", "position": 100 + i}, "alleles": [ref, alt], ENTRIES: entries})
    return rows


def _matrix(spark, rows, n_cols=N_COLS, partitions=3):
    df = spark.createDataFrame(
        rows,
        "locus struct<contig:string,position:int>, alleles array<string>, "
        f"{ENTRIES} array<struct<GT:int,DP:int,GQ:int>>",
    ).repartition(partitions)
    cols = [{"s": f"s{j}", "pheno": 0.5 * j, "batch": j % 2} for j in range(n_cols)]
    return MatrixTable(df, ("locus", "alleles"), cols, ("s",))


def _stats(values):
    if not values:
        return None, None, None, None
    v = np.array(values, dtype=float)
    return v.sum() / len(v), float(np.std(v)), float(v.min()), float(v.max())


def _reference(rows):
    """Every sample_qc field per sample, from the Python rows."""
    present = [r for r in rows if r[ENTRIES] is not None]
    out = []
    for j in range(N_COLS):
        c = dict.fromkeys(
            "n_called n_filtered n_het n_hom_ref n_hom_var n_non_ref n_singleton "
            "n_snp n_insertion n_deletion n_transition n_transversion n_star".split(), 0
        )
        dp, gq = [], []
        for r in present:
            e = r[ENTRIES][j]
            if e is None:
                c["n_filtered"] += 1
                continue
            if e["DP"] is not None:
                dp.append(e["DP"])
            gq.append(e["GQ"])
            g = e["GT"]
            if g is None:
                continue
            ac = sum(x["GT"] for x in r[ENTRIES] if x is not None and x["GT"] is not None)
            c["n_called"] += 1
            c["n_het"] += g == 1
            c["n_hom_ref"] += g == 0
            c["n_hom_var"] += g == 2
            c["n_non_ref"] += g > 0
            c["n_singleton"] += ac == 1 and g == 1
            ref, alt = r["alleles"]
            kind = _allele_kind(ref, alt)
            for name, hit in (
                ("n_snp", kind == "SNP"), ("n_insertion", kind == "Insertion"),
                ("n_deletion", kind == "Deletion"), ("n_star", kind == "Star"),
                ("n_transition", kind == "SNP" and (ref, alt) in TRANSITIONS),
                ("n_transversion", kind == "SNP" and (ref, alt) not in TRANSITIONS),
            ):
                c[name] += g * hit
        c["n_total"] = len(present)
        c["n_not_called"] = len(present) - c["n_called"]
        c["call_rate"] = c["n_called"] / len(present)
        for name, num, den in (
            ("r_het_hom_var", "n_het", "n_hom_var"),
            ("r_ti_tv", "n_transition", "n_transversion"),
            ("r_insertion_deletion", "n_insertion", "n_deletion"),
        ):
            c[name] = c[num] / c[den] if c[den] else None
        c["dp_stats"], c["gq_stats"] = _stats(dp), _stats(gq)
        out.append(c)
    return out


def _assert_matches_reference(got, rows):
    assert [r["s"] for r in got] == [f"s{j}" for j in range(N_COLS)]
    for r, want in zip(got, _reference(rows)):
        for f, v in want.items():
            if f.endswith("_stats"):
                mean, stdev, lo, hi = v
                s = r[f]
                assert (s["mean"], s["min"], s["max"]) == (mean, lo, hi), (r["s"], f)
                assert s["stdev"] == (None if stdev is None else pytest.approx(stdev, rel=1e-12, abs=0))
            else:
                assert r[f] == v, (r["s"], f)
        assert type(r["call_rate"]) is float and type(r["n_total"]) is int


def test_sample_qc_matches_numpy_reference(spark):
    rows = _random_matrix(np.random.default_rng(11))
    mt = _matrix(spark, rows)
    assert mt._df.rdd.getNumPartitions() >= 3
    sq = sample_qc(mt)
    assert sq.schema == SCHEMA
    ref = _reference(rows)
    assert ref[NO_CALL_SAMPLE]["n_called"] == 0 and ref[NO_CALL_SAMPLE]["dp_stats"][0] is None
    for f in ("n_filtered", "n_singleton", "n_insertion", "n_deletion", "n_star", "n_transition"):
        assert sum(r[f] for r in ref) > 0, f
    _assert_matches_reference(sq.collect(), rows)


def test_sample_qc_merges_partials_in_rounds(spark, monkeypatch):
    """More partitions than the fan-in: the partials are merged on the
    executors in two rounds (7 -> 4 -> 2), and each worker step sees
    three rows at most."""
    monkeypatch.setattr(qc, "_FAN_IN", 2)
    monkeypatch.setattr(qc, "_STEP_CELLS", 3 * N_COLS)
    rows = _random_matrix(np.random.default_rng(11))
    mt = _matrix(spark, rows, partitions=7)
    assert mt._df.rdd.getNumPartitions() == 7
    _assert_matches_reference(sample_qc(mt).collect(), rows)


def test_sample_qc_without_rows(spark):
    mt = _matrix(spark, _random_matrix(np.random.default_rng(12)))
    sq = sample_qc(mt.filter_rows(F.lit(False)))
    assert sq.schema == SCHEMA
    got = sq.collect()
    assert [r["s"] for r in got] == [f"s{j}" for j in range(N_COLS)]
    stats = SCHEMA.names[: SCHEMA.names.index("batch")]
    assert all(r[f] is None for r in got for f in stats)
    assert [r["pheno"] for r in got] == [0.5 * j for j in range(N_COLS)]


@pytest.mark.parametrize("method", ["sample_qc", "compute_charr"])
@pytest.mark.parametrize("length", [2, 4])
def test_entries_length_must_match_column_count(spark, method, length):
    entry = {"GT": 1, "DP": 20, "GQ": 50, "AD": [1, 19]}
    rows = [
        {"locus": {"contig": "1", "position": 100 + i}, "alleles": ["A", "G"],
         ENTRIES: [entry] * (length if i == 2 else 3)}
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "locus struct<contig:string,position:int>, alleles array<string>, "
        f"{ENTRIES} array<struct<GT:int,DP:int,GQ:int,AD:array<int>>>",
    )
    mt = MatrixTable(df, ("locus", "alleles"), [{"s": f"s{j}"} for j in range(3)], ("s",))
    run = {"sample_qc": sample_qc, "compute_charr": lambda m: compute_charr(m, min_af=-1.0, max_af=2.0)}
    with pytest.raises(Exception, match=f"has {length} entries but the matrix has 3 columns"):
        run[method](mt).collect()


def _charr_reference(rows, n_cols, min_af, max_af, min_dp, max_dp, min_gq):
    total, count = np.zeros(n_cols), np.zeros(n_cols, int)
    for r in rows:
        ents = r[ENTRIES]
        if ents is None or len(r["alleles"]) != 2:
            continue
        called = [e["GT"] for e in ents if e is not None and e["GT"] is not None]
        if not called:
            continue
        raf = 1.0 - sum(called) / (2 * len(called))
        if not min_af < raf < max_af:
            continue
        for j, e in enumerate(ents):
            if e is None or e["AD"] is None or e["GT"] != 2 or e["GQ"] < min_gq:
                continue
            ad0, ad1 = e["AD"]
            dp = e["DP"] if e["DP"] is not None else ad0 + ad1
            if min_dp <= dp <= max_dp:
                total[j] += (ad0 / (ad0 + ad1)) / raf
                count[j] += 1
    return [t / c if c else None for t, c in zip(total, count)]


def test_compute_charr_matches_numpy_reference(spark):
    rng = np.random.default_rng(5)
    n_cols = 6
    rows = []
    for i in range(30):
        ents = None
        if i != 3:
            ents = []
            for j in range(n_cols):
                if rng.random() < 0.08:
                    ents.append(None)
                    continue
                ad0, ad1 = int(rng.integers(0, 8)), int(rng.integers(5, 40))
                ents.append({
                    "GT": None if rng.random() < 0.1 else int(rng.choice([0, 1, 2, 2, 2])),
                    "DP": None if rng.random() < 0.3 else int(rng.integers(5, 60)),
                    "GQ": int(rng.integers(0, 99)),
                    "AD": None if rng.random() < 0.1 else [ad0, ad1],
                })
            if i % 7 == 0:  # all hom-var: ref_AF 0, outside the window
                for e in ents:
                    if e is not None:
                        e["GT"] = 2
        alleles = ["A", "G", "T"] if i == 10 else ["A", "G"]
        rows.append({"locus": {"contig": "1", "position": 100 + i}, "alleles": alleles, ENTRIES: ents})
    df = spark.createDataFrame(
        rows,
        "locus struct<contig:string,position:int>, alleles array<string>, "
        f"{ENTRIES} array<struct<GT:int,DP:int,GQ:int,AD:array<int>>>",
    ).repartition(3)
    cols = [{"s": f"s{j}", "x": j} for j in range(n_cols)]
    mt = MatrixTable(df, ("locus", "alleles"), cols, ("s",))
    params = dict(min_af=0.05, max_af=0.95, min_dp=10, max_dp=50, min_gq=20)
    out = compute_charr(mt, **params)
    assert out.columns == ["s", "charr"]
    got = [r["charr"] for r in out.collect()]
    want = _charr_reference(rows, n_cols, **params)
    assert [g is None for g in got] == [w is None for w in want]
    assert sum(w is not None for w in want) >= 3
    for g, w in zip(got, want):
        if w is not None:
            assert g == pytest.approx(w, rel=1e-12)


def _jobs(spark, f):
    """Spark jobs started while running ``f``."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        f()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_per_sample_results_collect_without_a_job(spark):
    rows = _random_matrix(np.random.default_rng(13))
    for k, r in enumerate(rows):  # PCA needs every row's GT
        if r[ENTRIES] is not None:
            r[ENTRIES] = [{"GT": (j * (k + 1)) % 3, "DP": 10, "GQ": 10} for j in range(N_COLS)]
    mt = _matrix(spark, rows)
    sq = sample_qc(mt)
    assert _jobs(spark, sq.collect) == 0
    _, scores, _ = hwe_normalized_pca(mt, k=2)
    assert scores.schema == StructType(
        [StructField("s", StringType()), StructField("scores", ArrayType(DoubleType()))]
    )
    assert _jobs(spark, scores.collect) == 0
    assert [r["s"] for r in scores.collect()] == [f"s{j}" for j in range(N_COLS)]
