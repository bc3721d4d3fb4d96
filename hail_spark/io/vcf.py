"""VCF import/export — ``hl.import_vcf`` / ``hl.export_vcf``.

Parity target: reference impex.py:2817 (`import_vcf`) backed by
hail/hail/src/is/hail/io/vcf/LoadVCF.scala (2313 LoC custom line
parser + tabix splits) and io/vcf/ExportVCF.scala (272 LoC).

Spark-first design: the body is ``spark.read.text`` (distributed
line splits for free) and the entire line parse is Catalyst
expressions — ``split``/``str_to_map``/``try_cast``/``transform`` —
with zero Python in the hot path. The header is read once from the
head of the first file by name (driver-side ``limit`` over the text
source, one small partition read — the same eager header pass the
reference does in LoadVCF), so export_vcf's header part leads a glob
of its part files whatever their sizes.

The fixed part of the parse, the entries and the ``locus``,
``alleles``, ``rsid``, ``qual`` and ``filters`` row fields, is written
as SQL templates that ``expr.sql.sql_expr`` turns into one Column each,
one Py4J round trip apiece instead of one per Column call. The INFO
keys come from the file's header, so the ``info`` struct stays in the
Column API and no text of the file reaches the SQL.

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

from ..expr.sql import sql_expr
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


def _format_field(key: str) -> str:
    """SQL text of one sample's FORMAT field ``key``: ``{vals}`` holds
    the sample's values (its column split on ``:``) and ``{fmt}`` the
    row's FORMAT key list. ``get`` is 0-based and NULL out of bounds,
    which covers both a key absent from FORMAT (position 0, index -1)
    and legally truncated trailing sample fields."""
    return f"nullif(get({{vals}}, CAST(array_position({{fmt}}, '{key}') - 1 AS INT)), '.')"


def _int_list(key: str) -> str:
    return f"transform(split({_format_field(key)}, ','), x -> try_cast(nullif(x, '.') AS INT))"


# the allele indices of GT; any '.' makes the whole call missing
_GTA_ANY = f"transform(split({_format_field('GT')}, '[/|]'), a -> try_cast(nullif(a, '.') AS INT))"
_GTA = f"CASE WHEN forall({_GTA_ANY}, a -> a IS NOT NULL) THEN {_GTA_ANY} END"
# One sample's entry struct (SQL template for ``sql_expr``). Samples may
# legally truncate trailing fields, so every field access is
# position-guarded.
_ENTRY = f"""struct(
  aggregate({_GTA}, 0, (acc, a) -> acc + CASE WHEN a > 0 THEN 1 ELSE 0 END) AS GT,
  {_GTA} AS GTA,
  CASE WHEN {_format_field('GT')} IS NOT NULL THEN contains({_format_field('GT')}, '|') END AS phased,
  {_int_list('AD')} AS AD,
  try_cast({_format_field('DP')} AS INT) AS DP,
  try_cast({_format_field('GQ')} AS INT) AS GQ,
  {_int_list('PL')} AS PL
)"""
# Every sample's entry struct, from the 1-based column numbers 10 to
# {last} of the tab-split line {c}: ONE higher-order transform over the
# sample indices, the way LoadVCF loops over its samples. element_at
# (not get) keeps a data line with fewer sample columns than the header
# an error rather than silently missing entries.
_ENTRIES = (
    "transform(transform(sequence(10, {last}), i -> split(element_at({c}, i), ':')), {vals} -> "
    + _ENTRY
    + ") AS {entries}"
)
# Spark's sequence(10, 9) counts DOWN, so zero samples need an explicit
# empty array.
_NO_SAMPLE_ENTRIES = _ENTRIES.replace("sequence(10, {last})", "CAST(array() AS ARRAY<INT>)")
# the fixed row fields, from the tab-split line {c}
_ROW_FIELDS = (
    "struct(element_at({c}, 1) AS contig, CAST(element_at({c}, 2) AS INT) AS position) AS locus",
    "concat(array(element_at({c}, 4)), CASE WHEN element_at({c}, 5) = '.'"
    " THEN CAST(array() AS ARRAY<STRING>) ELSE split(element_at({c}, 5), ',') END) AS alleles",
    "nullif(element_at({c}, 3), '.') AS rsid",
    "try_cast(nullif(element_at({c}, 6), '.') AS DOUBLE) AS qual",
    "CASE WHEN element_at({c}, 7) = '.' THEN CAST(NULL AS ARRAY<STRING>)"
    " WHEN element_at({c}, 7) = 'PASS' THEN CAST(array() AS ARRAY<STRING>)"
    " ELSE split(element_at({c}, 7), ';') END AS filters",
)


def _header_lines(text: DataFrame, scan_lines: int) -> list[str]:
    """The '#' lines among the first ``scan_lines`` lines of the first
    file, by name, of a VCF read as text, as LoadVCF reads the header of
    the first file. Spark packs the files of a glob into splits by size,
    largest first, so export_vcf's small header part would not lead the
    scan of the whole glob. Executors null out the data lines before the
    limit, so no sample column is collected to the driver."""
    files = sorted(text.inputFiles())
    if not files:
        return []
    is_head = F.when(F.col("value").startswith("#"), F.col("value"))
    rows = text.sparkSession.read.text(files[0]).select(is_head).limit(scan_lines).collect()
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
    entries = sql_expr(
        _ENTRIES if samples else _NO_SAMPLE_ENTRIES,
        c="__c", fmt="__fmt", vals="v", last=9 + len(samples), entries=ENTRIES,
    )
    row_cols = [
        *(sql_expr(f, c="__c") for f in _ROW_FIELDS),
        F.struct(
            *[_info_field(info_map, k, num, typ) for k, num, typ in info_decls]
        ).alias("info")
        if info_decls
        else F.lit(None).cast("string").alias("info"),
        entries,
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
