"""gVCF ingestion + VDS combiner.

Parity targets:
* ``hl.import_gvcf_interval`` — reference impex.py:3091 (interval-
  restricted single-sample gVCF read, split into reference blocks and
  variant rows).
* The VDS combiner — reference hail/python/hail/vds/combiner/
  variant_dataset_combiner.py (+ combine.py): merge N single-sample
  gVCFs into a VariantDataset(reference_data, variant_data) using the
  LOCAL allele representation (LGT/LA/LAD/LPL), so per-sample PL/AD
  arrays are never re-expanded into the merged allele space — exactly
  the reference's scalability trick (combine.py make_variants_matrix).

Spark-first shape: ALL files are parsed in ONE ``spark.read.text``
scan; ``input_file_name()`` joins each line to its sample index via a
broadcast map built from a driver-side header read (one tiny head-read
per file — the same eager header pass LoadVCF does). Everything
downstream is Column expressions inside whole-stage codegen; the only
shuffles are the two groupBys that gather per-locus entry arrays.

At 100 TB / 100k samples the reference combines hierarchically in
batches; this combiner is one level of that tree — calling it over
batches of gVCFs then unioning VDSes reproduces the hierarchy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matrixtable import ENTRIES, MatrixTable
from ..vds import VariantDataset
from .vcf import _TRYCAST, _entry_struct

NON_REF = "<NON_REF>"


def _read_sample_name(spark: SparkSession, path: str, scan_lines: int = 5000) -> str:
    head = [
        r["value"]
        for r in spark.read.text(path).limit(scan_lines).collect()
        if r["value"].startswith("#")
    ]
    if not head or not head[-1].startswith("#CHROM"):
        raise ValueError(f"no #CHROM header in {path}")
    fields = head[-1].split("\t")
    if len(fields) != 10:
        raise ValueError(f"gVCF must be single-sample: {path}")
    return fields[9]


def _parse_gvcf_lines(body: DataFrame) -> DataFrame:
    """Shared line parse: body has columns (value, __sidx). Emits
    (contig, pos, ref, alts, is_ref_block, end, __sidx, entry)."""
    # token-array barrier (see io/vcf.py): ~9 references to the split
    # would otherwise re-split the line per reference
    body = body.select(F.col("__sidx"), F.split(F.col("value"), "\t").alias("__c"))
    c = F.col("__c")
    info_map = F.str_to_map(F.element_at(c, 8), F.lit(";"), F.lit("="))
    fmt = F.split(F.element_at(c, 9), ":")
    alts_all = F.when(
        F.element_at(c, 5) == ".", F.array().cast("array<string>")
    ).otherwise(F.split(F.element_at(c, 5), ","))
    alts = F.array_remove(alts_all, NON_REF)
    entry = _entry_struct(fmt, F.split(F.element_at(c, 10), ":"))
    return body.select(
        F.element_at(c, 1).alias("contig"),
        F.element_at(c, 2).cast("int").alias("pos"),
        F.element_at(c, 4).alias("ref"),
        alts.alias("alts"),
        (F.size(alts) == 0).alias("is_ref_block"),
        F.coalesce(
            _TRYCAST(info_map["END"], "int"), F.element_at(c, 2).cast("int")
        ).alias("end"),
        F.col("__sidx"),
        entry.alias("__e"),
    )


def import_gvcf_interval(
    spark: SparkSession,
    path: str,
    contig: str,
    start: int,
    end: int,
) -> VariantDataset:
    """Single-sample gVCF restricted to [start, end] → 1-sample VDS
    (ref impex.py:3091). Reference blocks overlapping the interval are
    clipped to it (block start raised to `start`, END capped at `end`),
    matching the reference's interval semantics."""
    sample = _read_sample_name(spark, path)
    text = spark.read.text(path).filter(~F.col("value").startswith("#"))
    parsed = _parse_gvcf_lines(text.withColumn("__sidx", F.lit(0)))
    parsed = parsed.filter(
        (F.col("contig") == contig)
        & (F.col("end") >= F.lit(int(start)))
        & (F.col("pos") <= F.lit(int(end)))
    )
    return _assemble_vds(parsed, [sample], clip=(int(start), int(end)))


def combine_gvcfs(spark: SparkSession, paths: list[str]) -> VariantDataset:
    """Merge single-sample gVCFs into one VDS (ref
    variant_dataset_combiner.py). One distributed text scan over all
    files; sample identity rides on input_file_name()."""
    samples = [_read_sample_name(spark, p) for p in paths]
    if len(set(samples)) != len(samples):
        raise ValueError("duplicate sample names across gVCFs")
    text = spark.read.text(list(paths)).filter(~F.col("value").startswith("#"))
    # normalize scheme prefix: input_file_name returns a URI
    fname = F.input_file_name()
    mapping = F.create_map(
        *[
            x
            for i, p in enumerate(paths)
            for x in (F.lit(p.split("/")[-1]), F.lit(i))
        ]
    )
    sidx = mapping[F.element_at(F.split(fname, "/"), -1)]
    parsed = _parse_gvcf_lines(text.withColumn("__sidx", sidx))
    return _assemble_vds(parsed, samples)


def _assemble_vds(
    parsed: DataFrame, samples: list[str], clip: tuple[int, int] | None = None
) -> VariantDataset:
    n = len(samples)
    cols = [{"s": s} for s in samples]

    # ---------------- reference blocks -> reference_data ---------------- #
    refs = parsed.filter(F.col("is_ref_block"))
    start_c, end_c = F.col("pos"), F.col("end")
    if clip is not None:
        start_c = F.greatest(F.col("pos"), F.lit(clip[0]))
        end_c = F.least(F.col("end"), F.lit(clip[1]))
    ref_entry = F.struct(
        end_c.cast("int").alias("END"),
        F.col("__e")["DP"].alias("DP"),
        F.col("__e")["GQ"].alias("GQ"),
    )
    ref_long = refs.select("contig", start_c.alias("pos"), "__sidx", ref_entry.alias("__re"))
    ref_gathered = ref_long.groupBy("contig", "pos").agg(
        F.map_from_entries(F.collect_list(F.struct("__sidx", "__re"))).alias("__m")
    )
    ref_rows = ref_gathered.select(
        F.struct(F.col("contig"), F.col("pos").alias("position")).alias("locus"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)), lambda i: F.col("__m")[i]
        ).alias(ENTRIES),
    )
    reference_data = MatrixTable(ref_rows, ("locus",), cols, ("s",))

    # ---------------- variant rows -> variant_data (local alleles) ------ #
    vars_ = parsed.filter(~F.col("is_ref_block"))
    var_long = vars_.select(
        "contig",
        "pos",
        "ref",
        "alts",
        "__sidx",
        F.struct(
            F.col("__e")["GT"].alias("GT"),  # n_alt dosage: allele-remap invariant
            F.col("__e")["GTA"].alias("LGT"),
            F.col("__e")["phased"].alias("phased"),
            F.col("__e")["AD"].alias("LAD"),
            F.col("__e")["DP"].alias("DP"),
            F.col("__e")["GQ"].alias("GQ"),
            F.col("__e")["PL"].alias("LPL"),
        ).alias("__ve"),
    )
    # merged allele set per (contig, pos, ref): sorted distinct alts.
    # Samples with a different ref at the same position stay separate
    # rows (the reference's combiner min-reps first; min_rep lives in
    # expr/functions.py and can be applied upstream).
    gathered = var_long.groupBy("contig", "pos", "ref").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("alts")))).alias(
            "__alts"
        ),
        F.map_from_entries(
            F.collect_list(F.struct("__sidx", F.struct("alts", "__ve")))
        ).alias("__m"),
    )

    def build_entry(i: Column) -> Column:
        hit = F.col("__m")[i]
        local_alts = hit["alts"]
        ve = hit["__ve"]
        # LA: local allele index -> merged allele index (0 = ref)
        la = F.concat(
            F.array(F.lit(0)),
            F.transform(
                local_alts, lambda a: F.array_position(F.col("__alts"), a).cast("int")
            ),
        )
        return F.when(
            hit.isNotNull(),
            F.struct(
                ve["GT"].alias("GT"),
                ve["LGT"].alias("LGT"),
                la.alias("LA"),
                ve["phased"].alias("phased"),
                ve["LAD"].alias("LAD"),
                ve["DP"].alias("DP"),
                ve["GQ"].alias("GQ"),
                ve["LPL"].alias("LPL"),
            ),
        )

    var_rows = gathered.select(
        F.struct(F.col("contig"), F.col("pos").alias("position")).alias("locus"),
        F.concat(F.array(F.col("ref")), F.col("__alts")).alias("alleles"),
        F.transform(F.sequence(F.lit(0), F.lit(n - 1)), build_entry).alias(ENTRIES),
    )
    variant_data = MatrixTable(var_rows, ("locus", "alleles"), cols, ("s",))
    return VariantDataset(reference_data, variant_data)
