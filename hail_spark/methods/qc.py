"""QC method library — pure compositions over MatrixTable ops.

Parity target: hail/python/hail/methods/qc.py (sample_qc :59,
variant_qc :219). Both are aggregate compositions: variant_qc is a
row-wise entry aggregation (array HOFs, one pass, no shuffle);
sample_qc is a per-column aggregation (posexplode + groupBy col index).

Genotype calls use the int encoding of SURVEY.md §2.9 (biallelic:
0 = hom-ref, 1 = het, 2 = hom-var, NULL = missing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..matrixtable import ENTRIES, MatrixTable


def _defined(arr: Column, f) -> Column:
    return F.filter(arr, lambda e: e.isNotNull() & f(e).isNotNull())


def _gt_sum(gts: Column) -> Column:
    """Alt-allele count over an array of called GTs. The bigint
    accumulator takes int32 and int64 GT alike: aggregate requires the
    merge result to keep the zero value's type exactly."""
    return F.aggregate(gts, F.lit(0).cast("bigint"), lambda a, g: a + g)


def variant_qc(mt: MatrixTable, gt_field: str = "GT", name: str = "variant_qc", hwe: bool = True) -> MatrixTable:
    """Per-row (variant) QC (ref qc.py:219 field set): call_rate,
    n_(not_)called, n_filtered, n_het/hom_ref/hom_var/non_ref,
    AC/AF/AN, dp_stats/gq_stats when DP/GQ entries exist, and the
    exact mid-p HWE trio (het_freq_hwe, p_value_hwe,
    p_value_excess_het). Count pass is one entries-array HOF projection
    (codegen, no shuffle); the HWE finalizer is an Arrow-batched UDF
    over the three counts (map-only). ``hwe=False`` skips it."""

    def stats(entries: Column) -> dict[str, Column]:
        gts = F.transform(entries, lambda e: e[gt_field])
        called = F.filter(gts, lambda g: g.isNotNull())
        n_called = F.size(called)
        n_total = F.size(gts)
        n_het = F.size(F.filter(called, lambda g: g == 1))
        n_hom_ref = F.size(F.filter(called, lambda g: g == 0))
        n_hom_var = F.size(F.filter(called, lambda g: g == 2))
        an = (n_called * 2).cast("int")
        ac1 = _gt_sum(called).cast("int")
        n_filtered = F.size(F.filter(entries, lambda e: e.isNull()))
        n_non_ref = F.size(F.filter(called, lambda g: g > 0))
        fields = [
            (n_called.cast("double") / n_total).alias("call_rate"),
            n_called.cast("int").alias("n_called"),
            (n_total - n_called).cast("int").alias("n_not_called"),
            n_filtered.cast("bigint").alias("n_filtered"),
            n_het.cast("int").alias("n_het"),
            n_hom_ref.cast("int").alias("n_hom_ref"),
            n_hom_var.cast("int").alias("n_hom_var"),
            n_non_ref.cast("int").alias("n_non_ref"),
            # per-allele hom counts (ref qc.py:219 homozygote_count):
            # index 0 = hom-ref, 1 = hom-var for the biallelic encoding
            F.array(n_hom_ref.cast("int"), n_hom_var.cast("int")).alias(
                "homozygote_count"
            ),
            an.alias("AN"),
            F.array((an - ac1), ac1).alias("AC"),
            F.array(
                F.when(an > 0, (an - ac1) / an),
                F.when(an > 0, ac1 / an),
            ).alias("AF"),
            F.when(n_called > 0, n_het / n_called).alias("het_freq"),
        ]
        entry_names = {f.name for f in mt._df.schema[ENTRIES].dataType.elementType.fields}
        for fld, out_name in (("DP", "dp_stats"), ("GQ", "gq_stats")):
            if fld in entry_names:
                vals = F.filter(
                    F.transform(entries, lambda e: e[fld].cast("double")),
                    lambda v: v.isNotNull(),
                )
                nn = F.size(vals)
                s1 = F.aggregate(vals, F.lit(0.0), lambda a, v: a + v)
                s2 = F.aggregate(vals, F.lit(0.0), lambda a, v: a + v * v)
                mean = F.when(nn > 0, s1 / nn)
                # population variance via E[x^2] - mean^2 (one pass each,
                # no mean-inside-lambda re-evaluation)
                var = F.when(nn > 0, F.greatest(s2 / nn - (s1 / nn) * (s1 / nn), F.lit(0.0)))
                fields.append(
                    F.struct(
                        mean.alias("mean"),
                        F.sqrt(var).alias("stdev"),
                        F.array_min(vals).alias("min"),
                        F.array_max(vals).alias("max"),
                    ).alias(out_name)
                )
        return {name: F.struct(*fields)}

    out = mt.annotate_rows_agg_entries(stats)
    if hwe:
        # exact mid-p HWE per variant: Arrow-batched finalizer over the
        # three count fields (map-only, no shuffle)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _fin(hr: pd.Series, het: pd.Series, hv: pd.Series) -> pd.DataFrame:
            from ..expr.stats import hardy_weinberg_full

            return pd.DataFrame(
                [hardy_weinberg_full(int(a), int(b), int(c)) for a, b, c in zip(hr, het, hv)]
            )

        _fin.__annotations__ = {
            "hr": pd.Series, "het": pd.Series, "hv": pd.Series, "return": pd.DataFrame
        }
        udf = pandas_udf(
            _fin,
            "struct<het_freq_hwe:double,p_value_hwe:double,p_value_excess_het:double>",
        )
        q = F.col(name)
        hwe_struct = udf(q["n_hom_ref"], q["n_het"], q["n_hom_var"])
        base_names = [f.name for f in out._df.schema[name].dataType.fields]
        merged = F.struct(
            *[q[f].alias(f) for f in base_names],
            hwe_struct["het_freq_hwe"].alias("het_freq_hwe"),
            hwe_struct["p_value_hwe"].alias("p_value_hwe"),
            hwe_struct["p_value_excess_het"].alias("p_value_excess_het"),
        )
        out = out._with_df(out._df.withColumn(name, merged))
    return out


def sample_qc(mt: MatrixTable, gt_field: str = "GT"):
    """Per-column (sample) QC DataFrame (ref qc.py:59 field set):
    counts/call_rate, n_filtered, dp_stats/gq_stats when DP/GQ entries
    exist, n_singleton (private AC==1 alleles — needs the per-row AC,
    computed in the same HOF pass), r_het_hom_var, and when the matrix
    carries ``alleles`` rows also n_snp/n_insertion/n_deletion/
    n_transition/n_transversion/n_star with r_ti_tv and
    r_insertion_deletion. One posexplode + per-column hash agg (the
    distributed wide-aggregation path); the per-row AC and allele-type
    category ride the exploded rows as derived columns — no second
    pass."""
    from ..expr import functions as hf

    spark = mt._df.sparkSession
    entry_names = {f.name for f in mt._df.schema[ENTRIES].dataType.elementType.fields}
    has_alleles = "alleles" in mt._df.columns
    e = F.col(ENTRIES)
    gts = F.transform(e, lambda x: x[gt_field])
    ac1 = _gt_sum(F.filter(gts, lambda g: g.isNotNull()))
    row_cols = [F.posexplode(e).alias("__s", "__e"), ac1.alias("__ac")]
    if has_alleles:
        ref = F.element_at("alleles", 1)
        alt = F.element_at("alleles", 2)
        row_cols += [
            hf.allele_type(ref, alt).alias("__atype"),
            hf.is_transition(ref, alt).alias("__ti"),
            hf.is_transversion(ref, alt).alias("__tv"),
        ]
    long = mt._df.select(*row_cols)
    g = F.col("__e")[gt_field]
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.count(g).alias("n_called"),
        F.count(F.when(F.col("__e").isNull(), 1)).alias("n_filtered"),
        F.count(F.when(g == 1, 1)).alias("n_het"),
        F.count(F.when(g == 0, 1)).alias("n_hom_ref"),
        F.count(F.when(g == 2, 1)).alias("n_hom_var"),
        F.count(F.when(g > 0, 1)).alias("n_non_ref"),
        (F.count(g).cast("double") / F.count(F.lit(1))).alias("call_rate"),
        F.count(F.when((F.col("__ac") == 1) & (g == 1), 1)).alias("n_singleton"),
    ]
    for fld, out_name in (("DP", "dp_stats"), ("GQ", "gq_stats")):
        if fld in entry_names:
            v = F.col("__e")[fld].cast("double")
            aggs.append(
                F.struct(
                    F.avg(v).alias("mean"),
                    F.stddev_pop(v).alias("stdev"),
                    F.min(v).alias("min"),
                    F.max(v).alias("max"),
                ).alias(out_name)
            )
    if has_alleles:
        # allele-level counts (ref qc.py:173-200): each call contributes
        # its alt-allele DOSAGE (het → 1, hom-var → 2), not 1 per
        # genotype — hom-var calls carry two copies of the alt allele
        nonref = g > 0
        dose = F.when(nonref, g.cast("bigint")).otherwise(F.lit(0))
        aggs += [
            F.sum(F.when(F.col("__atype") == "SNP", dose).otherwise(0)).cast("bigint").alias("n_snp"),
            F.sum(F.when(F.col("__atype") == "Insertion", dose).otherwise(0)).cast("bigint").alias("n_insertion"),
            F.sum(F.when(F.col("__atype") == "Deletion", dose).otherwise(0)).cast("bigint").alias("n_deletion"),
            F.sum(F.when(F.col("__ti"), dose).otherwise(0)).cast("bigint").alias("n_transition"),
            F.sum(F.when(F.col("__tv"), dose).otherwise(0)).cast("bigint").alias("n_transversion"),
            F.sum(F.when(F.col("__atype") == "Star", dose).otherwise(0)).cast("bigint").alias("n_star"),
        ]
    per_idx = long.groupBy("__s").agg(*aggs)
    ratios = [
        F.when(F.col("n_hom_var") > 0, F.col("n_het") / F.col("n_hom_var")).alias(
            "r_het_hom_var"
        )
    ]
    if has_alleles:
        ratios += [
            F.when(F.col("n_transversion") > 0, F.col("n_transition") / F.col("n_transversion")).alias("r_ti_tv"),
            F.when(F.col("n_deletion") > 0, F.col("n_insertion") / F.col("n_deletion")).alias("r_insertion_deletion"),
        ]
    per_idx = per_idx.select("*", *ratios).withColumn(
        "n_not_called", F.col("n_total") - F.col("n_called")
    )
    col_df = spark.createDataFrame(
        [{"__s": i, **c} for i, c in enumerate(mt._cols)]
    )
    return F.broadcast(per_idx).join(col_df, on="__s", how="right").drop("__s")


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

    One posexplode + groupBy(sample index) — the same single-shuffle
    wide-aggregation shape as sample_qc.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    df = mt._df
    ents = F.col(ENTRIES)
    if ref_af_field:
        ref_af = F.col(ref_af_field)
    else:
        gts = F.filter(F.transform(ents, lambda e: e[gt_field]), lambda g: g.isNotNull())
        an = 2 * F.size(gts)
        ref_af = F.when(
            an > 0,
            1.0 - _gt_sum(gts).cast("double") / an,
        )
    filtered = df.where(F.size("alleles") == 2) if "alleles" in df.columns else df
    long = (
        filtered.select(ref_af.alias("__raf"), ents.alias("__es"))
        .where((F.col("__raf") > min_af) & (F.col("__raf") < max_af))
        .select("__raf", F.posexplode("__es").alias("__idx", "__e"))
    )
    e = F.col("__e")
    dp = F.coalesce(e["DP"] if "DP" in _entry_names(mt) else F.lit(None).cast("int"),
                    F.element_at(e[ad_field], 1) + F.element_at(e[ad_field], 2))
    kept = long.where(
        (e[gt_field] == 2)
        & (e["GQ"] >= min_gq)
        & dp.between(min_dp, max_dp)
        & e[ad_field].isNotNull()
    )
    ad0 = F.element_at(e[ad_field], 1).cast("double")
    ad1 = F.element_at(e[ad_field], 2).cast("double")
    per_idx = kept.groupBy("__idx").agg(
        F.avg((ad0 / (ad0 + ad1)) / F.col("__raf")).alias("charr")
    )
    spark = df.sparkSession
    col_df = spark.createDataFrame([{"__idx": i, **c} for i, c in enumerate(mt._cols)])
    return (
        F.broadcast(per_idx).join(col_df, on="__idx", how="right")
        .select(*[k for k in mt._col_key], "charr")
    )


def _entry_names(mt: MatrixTable) -> list[str]:
    return [f.name for f in mt._df.schema[ENTRIES].dataType.elementType.fields]
