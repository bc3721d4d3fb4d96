"""VCF import/export — ``hl.import_vcf`` / ``hl.export_vcf``.

Parity target: reference impex.py:2817 (`import_vcf`) backed by
hail/hail/src/is/hail/io/vcf/LoadVCF.scala (2313 LoC custom line
parser + tabix splits) and io/vcf/ExportVCF.scala (272 LoC).

Spark-first design: the body is ``spark.read.text`` (distributed
line splits for free) and the entire line parse is Catalyst
expressions — ``split``/``str_to_map``/``try_cast``/``transform`` —
with zero Python in the hot path. The header is read once from the
head of the first file (driver-side ``limit`` over the text source,
one small partition read — the same eager header pass the reference
does in LoadVCF).

The sample columns are parsed by ONE higher-order ``transform`` over
the sample indices, the way LoadVCF loops over its samples, so the
plan has the same size for 3 samples as for 3,000. A per-sample
unrolled entry expression grows the plan linearly with the cohort,
and Spark's driver-side analysis, optimization and codegen of that
plan cost seconds per import at a few hundred samples, before any
job runs. ``export_vcf`` renders the genotype columns the same way.

Row fields: ``locus struct<contig,position>``, ``alleles
array<string>``, ``rsid``, ``qual``, ``filters array<string>``,
``info struct<...>`` typed from the ``##INFO`` header declarations
(Flag→bool, Number=1→scalar, A/R/G/.→array).

Entry fields (canonical FORMAT subset): ``GT`` (n_alt_alleles dosage
int, the engine's call repr — see expr/functions.py call section),
``GTA`` (allele indices, multiallelic-aware), ``phased``, ``AD``,
``DP``, ``GQ``, ``PL``. Other FORMAT keys are dropped (documented
divergence; the reference types every FORMAT field).

bgzip note: ``.bgz`` files are gzip-compatible but Hadoop treats
plain gzip as unsplittable — at scale, decompress or rename to use
the splittable text path; the reference ships its own bgz splitter
(LoadVCF.scala tabix/virtual offsets), which we do not replicate.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matrixtable import ENTRIES, MatrixTable

_INFO_RE = re.compile(r"##INFO=<ID=([^,]+),Number=([^,]+),Type=([^,]+)")


def _TRYCAST(col, dtype: str):
    return col.try_cast(dtype)


def _info_field(m: Column, key: str, number: str, vcf_type: str) -> Column:
    elem = {"Integer": "int", "Float": "double", "String": "string", "Character": "string"}.get(
        vcf_type, "string"
    )
    if vcf_type == "Flag":
        return F.map_contains_key(m, key).alias(key)
    raw = F.nullif(m[key], F.lit("."))
    if number == "1":
        return _TRYCAST(raw, elem).alias(key)
    if number == "0":
        return F.map_contains_key(m, key).alias(key)
    return F.transform(
        F.split(raw, ","), lambda x: _TRYCAST(F.nullif(x, F.lit(".")), elem)
    ).alias(key)


def _entry_struct(fmt: Column, vals: Column) -> Column:
    """Parse one sample's field values (its column already split on
    ``:``) against the per-row FORMAT key list. Samples may legally
    truncate trailing fields, so every access is position-guarded."""

    def field(key: str) -> Column:
        # F.get is 0-based and NULL on out-of-bounds — covers both "key
        # absent from FORMAT" (pos 0 → index -1) and legally truncated
        # trailing sample fields
        pos = F.array_position(fmt, key)
        return F.nullif(F.get(vals, (pos - 1).cast("int")), F.lit("."))

    gt_raw = field("GT")
    gta = F.transform(F.split(gt_raw, r"[/|]"), lambda a: _TRYCAST(F.nullif(a, F.lit(".")), "int"))
    gta = F.when(F.forall(gta, lambda a: a.isNotNull()), gta)  # any '.' ⇒ call missing
    n_alt = F.aggregate(gta, F.lit(0), lambda acc, a: acc + F.when(a > 0, 1).otherwise(0))
    int_arr = lambda key: F.transform(  # noqa: E731
        F.split(field(key), ","), lambda x: _TRYCAST(F.nullif(x, F.lit(".")), "int")
    )
    return F.struct(
        n_alt.alias("GT"),
        gta.alias("GTA"),
        F.when(gt_raw.isNotNull(), gt_raw.contains("|")).alias("phased"),
        int_arr("AD").alias("AD"),
        _TRYCAST(field("DP"), "int").alias("DP"),
        _TRYCAST(field("GQ"), "int").alias("GQ"),
        int_arr("PL").alias("PL"),
    )


def _header_lines(text: DataFrame, scan_lines: int) -> list[str]:
    """The '#' lines among the first ``scan_lines`` lines of a VCF read
    as text. Executors null out the data lines before the limit, so no
    sample column is collected to the driver. A multi-file glob can
    place a data file's partition ahead of the header's, so '#' lines
    are kept wherever they fall in the window."""
    is_head = F.when(F.col("value").startswith("#"), F.col("value"))
    rows = text.select(is_head).limit(scan_lines).collect()
    return [r[0] for r in rows if r[0] is not None]


def import_vcf(
    spark: SparkSession,
    path: str,
    min_partitions: int | None = None,
    header_scan_lines: int = 10000,
) -> MatrixTable:
    text = spark.read.text(path)
    head = _header_lines(text, header_scan_lines)
    if not head or not head[-1].startswith("#CHROM"):
        raise ValueError("no #CHROM header line found in leading lines of " + path)
    chrom_line = head[-1].split("\t")
    samples = chrom_line[9:] if len(chrom_line) > 9 else []
    info_decls = [_INFO_RE.match(h).groups() for h in head if _INFO_RE.match(h)]

    body = text.filter(~F.col("value").startswith("#"))
    # materialize the tab-split ONCE: the row fields and the sample
    # lambda each reference the token array, and CollapseProject would
    # inline — i.e. re-split the whole line — per reference
    body = body.select(F.split(F.col("value"), "\t").alias("__c"))
    # second barrier for the FORMAT key list: every entry field probes
    # it with array_position, per sample, so inlining would re-split it
    # per probe. F.get is NULL-safe: sites-only lines have no FORMAT
    # column, and ANSI element_at would fail them
    body = body.select(F.col("__c"), F.split(F.get(F.col("__c"), 8), ":").alias("__fmt"))
    c = F.col("__c")
    info_map = F.str_to_map(F.element_at(c, 8), F.lit(";"), F.lit("="))
    fmt = F.col("__fmt")
    # 1-based column numbers of the samples. Spark's sequence(10, 9)
    # counts DOWN, so zero samples need an explicit empty array.
    # element_at (not get) keeps a data line with fewer sample columns
    # than the header an error rather than silently missing entries
    sample_idx = (
        F.sequence(F.lit(10), F.lit(9 + len(samples)))
        if samples
        else F.array().cast("array<int>")
    )
    sample_vals = F.transform(sample_idx, lambda i: F.split(F.element_at(c, i), ":"))
    row_cols = [
        F.struct(
            F.element_at(c, 1).alias("contig"),
            F.element_at(c, 2).cast("int").alias("position"),
        ).alias("locus"),
        F.concat(
            F.array(F.element_at(c, 4)),
            F.when(F.element_at(c, 5) == ".", F.array().cast("array<string>")).otherwise(
                F.split(F.element_at(c, 5), ",")
            ),
        ).alias("alleles"),
        F.nullif(F.element_at(c, 3), F.lit(".")).alias("rsid"),
        _TRYCAST(F.nullif(F.element_at(c, 6), F.lit(".")), "double").alias("qual"),
        F.when(F.element_at(c, 7) == ".", F.lit(None).cast("array<string>"))
        .when(F.element_at(c, 7) == "PASS", F.array().cast("array<string>"))
        .otherwise(F.split(F.element_at(c, 7), ";"))
        .alias("filters"),
        F.struct(
            *[_info_field(info_map, k, num, typ) for k, num, typ in info_decls]
        ).alias("info")
        if info_decls
        else F.lit(None).cast("string").alias("info"),
        F.transform(sample_vals, lambda v: _entry_struct(fmt, v)).alias(ENTRIES),
    ]
    rows = body.select(*row_cols)
    if min_partitions and rows.rdd.getNumPartitions() < min_partitions:
        rows = rows.repartition(min_partitions)
    cols = [{"s": s} for s in samples]
    return MatrixTable(rows, ("locus", "alleles"), cols, ("s",))


def export_vcf(mt: MatrixTable, path: str) -> None:
    """Write VCF text (ref ExportVCF.scala). GT emitted from GTA allele
    indices; INFO re-serialized from the typed struct; one text part
    per partition (distributed write)."""
    df = mt._df
    samples = [c["s"] for c in mt._cols]
    info_fields = (
        [f.name for f in df.schema["info"].dataType.fields]
        if "info" in df.columns and hasattr(df.schema["info"].dataType, "fields")
        else []
    )

    def info_str() -> Column:
        parts = []
        for k in info_fields:
            v = F.col("info")[k]
            dt = str(df.schema["info"].dataType[k].dataType)
            if dt.startswith("BooleanType"):
                parts.append(F.when(v, F.lit(k)))
            elif dt.startswith("ArrayType"):
                parts.append(
                    F.when(v.isNotNull(), F.concat(F.lit(k + "="), F.array_join(v, ",", "."))),
                )
            else:
                parts.append(F.when(v.isNotNull(), F.concat(F.lit(k + "="), v.cast("string"))))
        if not parts:
            return F.lit(".")
        joined = F.array_join(F.array(*parts), ";")
        return F.when(F.length(joined) > 0, joined).otherwise(F.lit("."))

    def gt_str(e: Column) -> Column:
        as_str = lambda sep: F.array_join(  # noqa: E731
            F.transform(e["GTA"], lambda a: a.cast("string")), sep
        )
        return F.when(
            e["GTA"].isNotNull(),
            F.when(F.coalesce(e["phased"], F.lit(False)), as_str("|")).otherwise(as_str("/")),
        ).otherwise(F.lit("./."))

    line = F.concat_ws(
        "\t",
        F.col("locus")["contig"],
        F.col("locus")["position"].cast("string"),
        F.coalesce(F.col("rsid"), F.lit(".")),
        F.element_at("alleles", 1),
        F.when(
            F.size("alleles") > 1, F.array_join(F.slice("alleles", 2, 1000), ",")
        ).otherwise(F.lit(".")),
        F.coalesce(F.col("qual").cast("string"), F.lit(".")),
        F.when(F.col("filters").isNull(), F.lit("."))
        .when(F.size("filters") == 0, F.lit("PASS"))
        .otherwise(F.array_join("filters", ";")),
        info_str() if info_fields else F.lit("."),
        F.lit("GT"),
        F.transform(F.col(ENTRIES), gt_str),
    )
    header = "\t".join(
        ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"] + samples
    )
    spark = df.sparkSession
    header_df = spark.createDataFrame([("##fileformat=VCFv4.2",), (header,)], "value string")
    header_df.coalesce(1).union(df.select(line.alias("value"))).write.mode(
        "overwrite"
    ).text(path)
