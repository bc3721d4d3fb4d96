"""QC method library — compositions over MatrixTable ops.

Parity target: hail/python/hail/methods/qc.py (sample_qc :59,
variant_qc :219, compute_charr :1822).

Every fixed per-row expression here is a SQL template (string constants
below) that ``expr.sql.sql_expr`` turns into one Column with one Py4J
round trip, the way Hail's Python layer ships a whole expression to the
JVM as one string; built a Column call at a time, each expression would
cost one round trip per call, hundreds per method.

variant_qc is a row-wise entry aggregation (array HOFs, one pass, no
shuffle). sample_qc and compute_charr aggregate per column, as Hail's
AggArrayPerElement does: the JVM projects each row's entries to
primitive per-sample arrays, one map-only ``mapInArrow`` pass folds them
into per-sample numpy vectors per partition, the partials are merged (on
the executors first when there are many), and the driver returns the
result as a local DataFrame (no per-entry rows; only partials are ever
shuffled).

Genotype calls use the int encoding of SURVEY.md §2.9 (biallelic:
0 = hom-ref, 1 = het, 2 = hom-var, NULL = missing).
"""

from __future__ import annotations

import pickle
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..expr.sql import sql_expr
from ..matrixtable import ENTRIES, MatrixTable


# SQL templates for ``sql_expr`` (hail_spark/expr/sql.py). ``{entries}``
# is the entries array, ``{gt}`` the call field: alt-allele dosage
# (0, 1, 2) or NULL for a missing call.
_CALLED = "filter(transform({entries}, e -> e.{gt}), g -> g IS NOT NULL)"
# Alt-allele count over the called GTs. The bigint accumulator takes int32
# and int64 GT alike: aggregate requires the merge result to keep the
# zero value's type exactly.
_ALT_SUM = f"aggregate({_CALLED}, CAST(0 AS BIGINT), (a, g) -> a + g)"
_N_CALLED = f"size({_CALLED})"
_N_TOTAL = "size(transform({entries}, e -> e.{gt}))"
_AN = f"CAST({_N_CALLED} * 2 AS INT)"
_AC = f"CAST({_ALT_SUM} AS INT)"


def _n_calls(pred: str) -> str:
    return f"size(filter({_CALLED}, g -> {pred}))"


# variant_qc's struct up to het_freq; dp_stats/gq_stats follow and ")"
# closes it. homozygote_count is per allele (ref qc.py:219): index 0 =
# hom-ref, 1 = hom-var for the biallelic encoding.
_VARIANT_QC_COUNTS = f"""struct(
  CAST({_N_CALLED} AS DOUBLE) / {_N_TOTAL} AS call_rate,
  CAST({_N_CALLED} AS INT) AS n_called,
  CAST({_N_TOTAL} - {_N_CALLED} AS INT) AS n_not_called,
  CAST(size(filter({{entries}}, e -> e IS NULL)) AS BIGINT) AS n_filtered,
  CAST({_n_calls("g = 1")} AS INT) AS n_het,
  CAST({_n_calls("g = 0")} AS INT) AS n_hom_ref,
  CAST({_n_calls("g = 2")} AS INT) AS n_hom_var,
  CAST({_n_calls("g > 0")} AS INT) AS n_non_ref,
  array(CAST({_n_calls("g = 0")} AS INT), CAST({_n_calls("g = 2")} AS INT)) AS homozygote_count,
  {_AN} AS AN,
  array({_AN} - {_AC}, {_AC}) AS AC,
  array(
    CASE WHEN {_AN} > 0 THEN ({_AN} - {_AC}) / {_AN} END,
    CASE WHEN {_AN} > 0 THEN {_AC} / {_AN} END
  ) AS AF,
  CASE WHEN {_N_CALLED} > 0 THEN {_n_calls("g = 1")} / {_N_CALLED} END AS het_freq"""


def _field_stats(field: str) -> str:
    """dp_stats / gq_stats: mean, population stdev (E[x^2] - mean^2, one
    pass each, no mean inside a lambda), min and max of the defined
    values of an entry field."""
    vals = f"filter(transform({{entries}}, e -> CAST(e.{field} AS DOUBLE)), v -> v IS NOT NULL)"
    n, s1 = f"size({vals})", f"aggregate({vals}, 0.0D, (a, v) -> a + v)"
    s2 = f"aggregate({vals}, 0.0D, (a, v) -> a + v * v)"
    var = f"greatest({s2} / {n} - ({s1} / {n}) * ({s1} / {n}), 0.0D)"
    return f""",
  struct(
    CASE WHEN {n} > 0 THEN {s1} / {n} END AS mean,
    sqrt(CASE WHEN {n} > 0 THEN {var} END) AS stdev,
    array_min({vals}) AS min,
    array_max({vals}) AS max
  ) AS {field.lower()}_stats"""


_VARIANT_QC_STATS = {f: _field_stats(f) for f in ("DP", "GQ")}
# the count struct with the HWE finalizer's three fields appended
_WITH_HWE = "struct({qc}.*, {hwe}.*)"


def variant_qc(mt: MatrixTable, gt_field: str = "GT", name: str = "variant_qc", hwe: bool = True) -> MatrixTable:
    """Per-row (variant) QC (ref qc.py:219 field set): call_rate,
    n_(not_)called, n_filtered, n_het/hom_ref/hom_var/non_ref,
    AC/AF/AN, dp_stats/gq_stats when DP/GQ entries exist, and the
    exact mid-p HWE trio (het_freq_hwe, p_value_hwe,
    p_value_excess_het). The counts are one entries-array HOF
    projection (codegen, no shuffle), built as one SQL expression; the
    HWE finalizer is an Arrow-batched UDF over the three counts
    (map-only), merged into the struct by a second SQL expression.
    ``hwe=False`` skips it."""
    stat_fields = [f for f in ("DP", "GQ") if f in _entry_names(mt)]
    template = _VARIANT_QC_COUNTS + "".join(_VARIANT_QC_STATS[f] for f in stat_fields) + ")"
    out = mt._with_df(mt._df.withColumn(name, sql_expr(template, entries=ENTRIES, gt=gt_field)))
    if hwe:
        # exact mid-p HWE per variant: Arrow-batched finalizer over the
        # three count fields (map-only, no shuffle)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _fin(hr: pd.Series, het: pd.Series, hv: pd.Series) -> pd.DataFrame:
            from ..expr.stats import hardy_weinberg_full

            # a row whose entries array is NULL has NULL counts and a NULL trio
            none = dict.fromkeys(("het_freq_hwe", "p_value_hwe", "p_value_excess_het"))
            return pd.DataFrame(
                [none if pd.isna(a) else hardy_weinberg_full(int(a), int(b), int(c))
                 for a, b, c in zip(hr, het, hv)]
            )

        _fin.__annotations__ = {
            "hr": pd.Series, "het": pd.Series, "hv": pd.Series, "return": pd.DataFrame
        }
        udf = pandas_udf(
            _fin,
            "struct<het_freq_hwe:double,p_value_hwe:double,p_value_excess_het:double>",
        )
        q = F.col(name)
        df = out._df.withColumn("__hwe", udf(q["n_hom_ref"], q["n_het"], q["n_hom_var"]))
        merged = sql_expr(_WITH_HWE, qc=name, hwe="__hwe")
        out = out._with_df(df.withColumn(name, merged).drop("__hwe"))
    return out


# Per-partition partials are merged on the executors, this many at a
# time, until at most this many are left for the driver to merge.
_FAN_IN = 16
# A step folds at most this many entries (rows × columns) at once, so its
# dense numpy matrices stay bounded whatever the column count.
_STEP_CELLS = 1 << 22


def _per_sample(df: DataFrame, n: int, zero, step, merge, what: str):
    """Fold every row of ``df`` into per-sample totals, map-only.

    ``df``'s first column is an array with one slot per matrix column;
    rows where it is NULL are skipped, and a row of any other length
    raises. ``step`` turns an Arrow batch of at most ``_STEP_CELLS // n``
    of the remaining rows into a partial result, ``merge`` combines two
    of them and ``zero`` is the partial of no rows. Each partition folds
    its rows into one partial; the executors merge those ``_FAN_IN`` at
    a time until at most ``_FAN_IN`` are left, and the driver merges
    those in order. So the driver holds ``_FAN_IN`` partials of O(n)
    numbers each, whatever the partition count."""
    step_rows = max(1, _STEP_CELLS // max(n, 1))

    def run(batches):
        acc = zero
        for b in batches:
            b = b.filter(b.column(0).is_valid())
            lens = pc.list_value_length(b.column(0)).to_numpy()
            if (lens != n).any():
                raise ValueError(
                    f"{what}: a row's {ENTRIES} has {lens[lens != n][0]} entries "
                    f"but the matrix has {n} columns"
                )
            for i in range(0, b.num_rows, step_rows):
                acc = merge(acc, step(b.slice(i, step_rows)))
        yield pa.RecordBatch.from_pydict({"acc": [pickle.dumps(acc)]})

    def fold(batches):
        acc = zero
        for b in batches:
            for part in b.column(0).to_pylist():
                acc = merge(acc, pickle.loads(part))
        yield pa.RecordBatch.from_pydict({"acc": [pickle.dumps(acc)]})

    parts = df.mapInArrow(run, "acc binary")
    # Counting the partitions plans the RDD, which runs any shuffle in
    # ``df``'s plan; collecting the same RDD does not run it again. The
    # merge rounds plan anew, so ``df``'s shuffles run twice when there
    # are more than _FAN_IN partials.
    rdd = parts.rdd
    k = rdd.getNumPartitions()
    if k > _FAN_IN:
        while k > _FAN_IN:
            k = -(-k // _FAN_IN)
            parts = parts.repartition(k).mapInArrow(fold, "acc binary")
        rdd = parts.rdd
    return reduce(merge, (pickle.loads(r[0]) for r in rdd.collect()), zero)


def _masked(col: pa.ListArray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(values, defined) matrices, one row per list, of an array<double>
    column whose lists all have ``n`` slots; NULL slots hold 0."""
    flat = col.flatten()
    ok = flat.is_valid().to_numpy(zero_copy_only=False).reshape(-1, n)
    return flat.fill_null(0.0).to_numpy(zero_copy_only=False).reshape(-1, n), ok


def _moments(x: np.ndarray, ok: np.ndarray) -> tuple:
    """Per column of ``x``: count, sum, centred sum of squares, min and
    max of the defined values."""
    cnt = ok.sum(axis=0)
    s1 = x.sum(axis=0, where=ok)
    with np.errstate(invalid="ignore", divide="ignore"):
        m2 = ((x - s1 / cnt) ** 2).sum(axis=0, where=ok)
    return cnt, s1, m2, x.min(axis=0, where=ok, initial=np.inf), x.max(axis=0, where=ok, initial=-np.inf)


def _merge_moments(a: tuple, b: tuple) -> tuple:
    """Chan, Golub & LeVeque's pairwise update: the centred sums of
    squares combine without the cancellation of sum(x^2) - n mean^2."""
    (n1, s1, m1, lo1, hi1), (n2, s2, m2, lo2, hi2) = a, b
    n = n1 + n2
    with np.errstate(invalid="ignore", divide="ignore"):
        d = s2 / n2 - s1 / n1
        cross = np.where(n1 * n2 > 0, d * d * n1 * n2 / n, 0.0)
    return n, s1 + s2, m1 + m2 + cross, np.minimum(lo1, lo2), np.maximum(hi1, hi2)


# sample_qc's row projection: GT codes (-2 missing entry, -1 missing
# call), an entry field as doubles, and the six allele-category flags of
# _ALLELE_COUNTS for the first alt allele. The flags CASE follows
# expr.functions.allele_type branch for branch (SNP, MNP, Insertion,
# Deletion, Star, Unknown, Complex); only a SNP can be a transition or a
# transversion. A site without an alt allele (``import_vcf`` gives ALT
# '.' a one-element ``alleles``) sets no flag, as in Hail; the guard
# comes first because element_at(alleles, 2) raises there under ANSI.
_GT_CODES = (
    "transform({entries}, x -> CASE WHEN x IS NULL THEN -2 ELSE coalesce(CAST(x.{gt} AS INT), -1) END)"
    " AS gt"
)
_AS_DOUBLES = "transform({entries}, x -> CAST(x.{field} AS DOUBLE)) AS {field}"
_REF, _ALT = "element_at({alleles}, 1)", "element_at({alleles}, 2)"
_TRANSITION = f"concat({_REF}, {_ALT}) IN ('AG', 'GA', 'CT', 'TC')"
_ALLELE_FLAGS = f"""CASE
  WHEN size({{alleles}}) < 2 THEN array(false, false, false, false, false, false)
  WHEN length({_REF}) = 1 AND length({_ALT}) = 1 AND {_REF} != {_ALT}
    THEN array(true, false, false, {_TRANSITION}, NOT {_TRANSITION}, false)
  WHEN length({_REF}) > 1 AND length({_REF}) = length({_ALT}) AND {_REF} != {_ALT}
    THEN array(false, false, false, false, false, false)
  WHEN length({_REF}) < length({_ALT}) AND startswith({_ALT}, {_REF})
    THEN array(false, true, false, false, false, false)
  WHEN length({_REF}) > length({_ALT}) AND startswith({_REF}, {_ALT})
    THEN array(false, false, true, false, false, false)
  WHEN {_ALT} = '*' THEN array(false, false, false, false, false, true)
  WHEN {_REF} = {_ALT} THEN array(false, false, false, false, false, false)
  ELSE array(false, false, false, false, false, false)
END AS flags"""

_CALL_COUNTS = (
    "n_total", "n_called", "n_filtered", "n_het", "n_hom_ref", "n_hom_var", "n_non_ref",
    "n_singleton",
)
_ALLELE_COUNTS = ("n_snp", "n_insertion", "n_deletion", "n_transition", "n_transversion", "n_star")


def sample_qc(mt: MatrixTable, gt_field: str = "GT"):
    """Per-column (sample) QC DataFrame (ref qc.py:59 field set):
    counts/call_rate, n_filtered, dp_stats/gq_stats when DP/GQ entries
    exist, n_singleton (private AC==1 alleles), r_het_hom_var, and when
    the matrix carries ``alleles`` rows also n_snp/n_insertion/
    n_deletion/n_transition/n_transversion/n_star (alt-allele dosage)
    with r_ti_tv and r_insertion_deletion. One row per column, in
    column order, followed by the column fields.

    Hail's AggArrayPerElement shape, map-only: the JVM projects each
    row to a GT code array (-2 missing entry, -1 missing call), DP/GQ
    as ``array<double>`` and one allele-category flag array; one
    ``mapInArrow`` pass folds those into per-sample numpy count and
    moment vectors per partition; the executors merge the partials
    until few are left, and the driver merges those and returns a local
    DataFrame. The driver holds at most ``_FAN_IN`` partials of about
    24 numbers per sample, whatever the partition count. A worker's
    Arrow input batch holds at most
    ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB by default),
    and each numpy step at most ``_STEP_CELLS`` entries, so worker
    memory does not grow with the sample count either. The job runs
    when ``sample_qc`` is called. Rows with NULL entries are skipped;
    without any row every statistic is NULL; an entries array whose
    length is not the column count raises."""
    n = len(mt._cols)
    stat_fields = [f for f in ("DP", "GQ") if f in _entry_names(mt)]
    has_alleles = "alleles" in mt._df.columns
    proj = [sql_expr(_GT_CODES, entries=ENTRIES, gt=gt_field)]
    proj += [sql_expr(_AS_DOUBLES, entries=ENTRIES, field=f) for f in stat_fields]
    if has_alleles:
        proj.append(sql_expr(_ALLELE_FLAGS, alleles="alleles"))
    n_stats = len(stat_fields)

    def step(b):
        G = b.column(0).flatten().to_numpy(zero_copy_only=False).reshape(-1, n)
        called = G >= 0
        ac = np.where(called, G, 0).sum(axis=1)
        counts = [
            np.full(n, len(G)), called.sum(axis=0), (G == -2).sum(axis=0),
            (G == 1).sum(axis=0), (G == 0).sum(axis=0), (G == 2).sum(axis=0),
            (G > 0).sum(axis=0), ((ac == 1)[:, None] & (G == 1)).sum(axis=0),
        ]
        if has_alleles:
            cats = b.column(1 + n_stats).flatten().to_numpy(zero_copy_only=False)
            cats = cats.reshape(-1, len(_ALLELE_COUNTS)).T.astype(np.int64)
            counts.extend(cats @ np.where(G > 0, G, 0))
        moments = [_moments(*_masked(b.column(1 + i), n)) for i in range(n_stats)]
        return np.array(counts, dtype=np.int64), moments

    def merge(a, b):
        return a[0] + b[0], [_merge_moments(x, y) for x, y in zip(a[1], b[1])]

    zero = (
        np.zeros((len(_CALL_COUNTS) + len(_ALLELE_COUNTS) * has_alleles, n), np.int64),
        [_moments(np.zeros((0, n)), np.zeros((0, n), bool))] * n_stats,
    )
    counts, moments = _per_sample(mt._df.select(*proj), n, zero, step, merge, "sample_qc")
    c = dict(zip(_CALL_COUNTS + _ALLELE_COUNTS, counts))
    absent = c["n_total"] == 0

    def col(v, null=False):
        return pa.array(v, mask=absent | null)

    with np.errstate(invalid="ignore", divide="ignore"):
        def ratio(a, b):
            return col(c[a] / c[b], c[b] == 0)

        out = {f: col(c[f]) for f in _CALL_COUNTS[:-1]}
        out["call_rate"] = ratio("n_called", "n_total")
        out["n_singleton"] = col(c["n_singleton"])
        for f, (cnt, s1, m2, lo, hi) in zip(stat_fields, moments):
            out[f"{f.lower()}_stats"] = pa.StructArray.from_arrays(
                [pa.array(v, mask=cnt == 0) for v in (s1 / cnt, np.sqrt(m2 / cnt), lo, hi)],
                names=["mean", "stdev", "min", "max"],
                mask=pa.array(absent),
            )
        if has_alleles:
            out.update({f: col(c[f]) for f in _ALLELE_COUNTS})
        out["r_het_hom_var"] = ratio("n_het", "n_hom_var")
        if has_alleles:
            out["r_ti_tv"] = ratio("n_transition", "n_transversion")
            out["r_insertion_deletion"] = ratio("n_insertion", "n_deletion")
        out["n_not_called"] = col(c["n_total"] - c["n_called"])
    return mt._cols_frame(before=pa.table(out))


def hwe_expected_het_freq(af: Column) -> Column:
    """2p(1-p) — expected het frequency under HWE."""
    return 2.0 * af * (1.0 - af)


def summarize_variants(mt) -> dict:
    """Per-allele-type counts + ti/tv ratio (ref qc.py:1725).
    One pass: explode alt alleles, hash-agg on the derived category."""
    from pyspark.sql import functions as F

    from ..expr import functions as hf

    alts = mt._df.select(
        F.element_at("alleles", 1).alias("ref"),
        F.explode(F.slice("alleles", 2, 1 << 20)).alias("alt"),
    )
    typed = alts.select(
        hf.allele_type(F.col("ref"), F.col("alt")).alias("t"),
        hf.is_transition(F.col("ref"), F.col("alt")).alias("ti"),
        hf.is_transversion(F.col("ref"), F.col("alt")).alias("tv"),
    )
    row = typed.agg(
        F.count(F.lit(1)).alias("n_alleles"),
        F.sum(F.when(F.col("ti"), 1).otherwise(0)).alias("n_ti"),
        F.sum(F.when(F.col("tv"), 1).otherwise(0)).alias("n_tv"),
    ).first()
    counts = {
        r["t"]: r["n"] for r in typed.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "n_variants": mt._df.count(),
        "n_alleles": row["n_alleles"],
        "allele_types": counts,
        "r_ti_tv": (row["n_ti"] / row["n_tv"]) if row["n_tv"] else float("nan"),
    }


# compute_charr's row projection: the in-sample ref allele frequency
# (1 - AC / AN over the called GTs), the window it must fall in, and each
# entry's ref-read fraction AD[0] / (AD[0] + AD[1]), NULL unless the
# entry is a kept hom-var call.
_REF_AF = f"CASE WHEN size({_CALLED}) * 2 > 0 THEN 1.0D - CAST({_ALT_SUM} AS DOUBLE) / (size({_CALLED}) * 2) END"
_AF_WINDOW = "raf > {min_af} AND raf < {max_af}"


def _ref_fraction(dp: str) -> str:
    """The ref-read fraction template for entries whose depth is ``dp``
    (the DP field, or NULL without one); AD's sum stands in for a NULL
    depth. The parentheses keep the AND tree left-nested, as the Column
    API built it; Spark's SQL parser balances a flat AND chain."""
    ad0, ad1 = "element_at(e.{ad}, 1)", "element_at(e.{ad}, 2)"
    depth = f"coalesce({dp}, {ad0} + {ad1})"
    return f"""transform({{entries}}, e -> CASE
  WHEN ((e.{{gt}} = 2 AND e.GQ >= {{min_gq}}) AND ({depth} >= {{min_dp}} AND {depth} <= {{max_dp}}))
    AND e.{{ad}} IS NOT NULL
  THEN CAST({ad0} AS DOUBLE) / (CAST({ad0} AS DOUBLE) + CAST({ad1} AS DOUBLE))
END) AS frac"""


_REF_FRACTION = {True: _ref_fraction("e.DP"), False: _ref_fraction("CAST(NULL AS INT)")}


def compute_charr(
    mt: MatrixTable,
    min_af: float = 0.05,
    max_af: float = 0.95,
    min_dp: int = 10,
    max_dp: int = 100,
    min_gq: int = 20,
    ref_af_field: str | None = None,
    gt_field: str = "GT",
    ad_field: str = "AD",
) -> "DataFrame":
    """CHARR DNA-contamination estimator (ref qc.py:1822-1937).

    Per sample: mean over filtered hom-var entries of
    ``(AD[0] / (AD[0]+AD[1])) / ref_AF`` — hom-var sites should carry no
    ref reads, so the ref-read fraction scaled by the population ref
    allele frequency estimates the contaminating fraction.

    Row filter: biallelic with ref_AF in (min_af, max_af); entry filter:
    hom-var, GQ >= min_gq, DP (or AD sum) in [min_dp, max_dp].  ref_AF
    comes from ``ref_af_field`` if given (the reference requires an
    external AF below 10k samples but we default to the in-sample
    estimate: 1 - sum(GT)/2N over called entries).

    Same map-only per-sample accumulation as sample_qc: the JVM projects
    each kept row to its ref-read fractions (NULL for filtered entries)
    and ref_AF, and the Python workers sum the scaled fractions and
    count them per sample (two numbers per sample and partial, merged
    like sample_qc's). A sample with no kept entry gets NULL.
    """
    if ref_af_field:
        ref_af = F.col(ref_af_field)
    else:
        ref_af = sql_expr(_REF_AF, entries=ENTRIES, gt=gt_field)
    fraction = sql_expr(
        _REF_FRACTION["DP" in _entry_names(mt)], entries=ENTRIES, gt=gt_field, ad=ad_field,
        min_gq=min_gq, min_dp=min_dp, max_dp=max_dp,
    )
    df = mt._df
    if "alleles" in df.columns:
        df = df.where(F.size("alleles") == 2)
    rows = (
        df.select(ENTRIES, ref_af.alias("raf"))
        .where(sql_expr(_AF_WINDOW, min_af=min_af, max_af=max_af))
        .select(fraction, "raf")
    )
    n = len(mt._cols)

    def step(b):
        x, ok = _masked(b.column(0), n)
        raf = b.column(1).to_numpy(zero_copy_only=False)[:, None]
        return (x / raf).sum(axis=0, where=ok), ok.sum(axis=0)

    total, count = _per_sample(
        rows, n, (np.zeros(n), np.zeros(n, np.int64)), step,
        lambda a, b: (a[0] + b[0], a[1] + b[1]), "compute_charr",
    )
    with np.errstate(invalid="ignore", divide="ignore"):
        charr = pa.array(total / count, mask=count == 0)
    return mt._cols_frame(before=pa.table({"charr": charr})).select(
        *mt._col_key, "charr"
    )


def _entry_names(mt: MatrixTable) -> list[str]:
    return [f.name for f in mt._df.schema[ENTRIES].dataType.elementType.fields]
