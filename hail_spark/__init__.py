"""hail_spark — a PySpark-native analytics engine with Hail's capabilities.

From-scratch reimplementation of the query surface of hail-is/hail
(reference at /root/reference, v0.2.139) on Spark DataFrames/Catalyst.
See SURVEY.md for the blueprint and per-operator reference citations.
"""

from .session import get_spark, init, init_local, init_spark, spark_context, stop, tmp_dir
from .table import Table, GroupedTable, asc, desc
from .expr import aggregators as agg
from .expr import functions as hf
from .operators import scans as scan

__all__ = [
    "get_spark", "Table", "GroupedTable", "asc", "desc", "agg", "hf", "scan",
    "MatrixTable", "GroupedMatrixTable", "VariantDataset", "BlockMatrix",
    "experimental", "init", "init_spark", "init_local", "stop",
    "spark_context", "tmp_dir", "version", "citation",
    "set_global_seed", "reset_global_randomness", "set_rng_engine",
    "get_reference", "default_reference",
    "nd", "linalg", "methods", "genetics", "stats", "vds", "utils", "io",
    "hadoop_open", "hadoop_exists", "hadoop_is_file", "hadoop_is_dir",
    "hadoop_ls", "hadoop_stat", "hadoop_copy", "hadoop_scheme_supported",
    "TemporaryDirectory", "TemporaryFilename",
]

__version__ = "0.1.0"


def version() -> str:
    """Parity alias for hl.version()."""
    return __version__


def citation(*, bibtex: bool = False) -> str:
    """Parity alias for hl.citation/cite_hail: cite the REFERENCE
    project this engine reimplements (we add no citable method of our
    own)."""
    if bibtex:
        return (
            "@misc{hail, author = {Hail Team}, title = {Hail},"
            " howpublished = {\\url{https://github.com/hail-is/hail}}}"
        )
    return "Hail Team. Hail. https://github.com/hail-is/hail"


_LAZY = {
    "MatrixTable": ("hail_spark.matrixtable", "MatrixTable"),
    "GroupedMatrixTable": ("hail_spark.matrixtable", "GroupedMatrixCols"),
    "VariantDataset": ("hail_spark.vds", "VariantDataset"),
    "BlockMatrix": ("hail_spark.linalg.blockmatrix", "BlockMatrix"),
    "experimental": ("hail_spark.experimental", None),
    # submodule parity handles (ref hl.nd / hl.linalg / hl.methods ...)
    "nd": ("hail_spark.expr.ndarray", None),
    "linalg": ("hail_spark.linalg.blockmatrix", None),
    "methods": ("hail_spark.methods", None),
    "genetics": ("hail_spark.genetics", None),  # value types (ref hl.genetics)
    "stats": ("hail_spark.expr.stats", None),
    "vds": ("hail_spark.vds", None),
    "utils": ("hail_spark.utils", None),
    "io": ("hail_spark.io", None),
    # randomness + genome registry (ref hl.set_global_seed etc.)
    "set_global_seed": ("hail_spark.expr.functions", "set_global_seed"),
    "reset_global_randomness": ("hail_spark.expr.functions", "reset_global_randomness"),
    "set_rng_engine": ("hail_spark.expr.functions", "set_rng_engine"),
    "get_reference": ("hail_spark.expr.genome", "get_reference"),
    "default_reference": ("hail_spark.expr.genome", "default_reference"),
    # filesystem utils (ref hl.hadoop_*)
    "hadoop_open": ("hail_spark.utils", "hadoop_open"),
    "hadoop_exists": ("hail_spark.utils", "hadoop_exists"),
    "hadoop_is_file": ("hail_spark.utils", "hadoop_is_file"),
    "hadoop_is_dir": ("hail_spark.utils", "hadoop_is_dir"),
    "hadoop_ls": ("hail_spark.utils", "hadoop_ls"),
    "hadoop_stat": ("hail_spark.utils", "hadoop_stat"),
    "hadoop_copy": ("hail_spark.utils", "hadoop_copy"),
    "hadoop_scheme_supported": ("hail_spark.utils", "hadoop_scheme_supported"),
    "TemporaryDirectory": ("hail_spark.utils", "TemporaryDirectory"),
    "TemporaryFilename": ("hail_spark.utils", "TemporaryFilename"),
    # value types + misc top-level parity (ref hail/__init__.py __all__)
    "Struct": ("hail_spark.utils", "Struct"),
    "Interval": ("hail_spark.utils", "Interval"),
    "ANY_REGION": ("hail_spark.utils", "ANY_REGION"),
    "backend": ("hail_spark.session", "backend"),
    "current_backend": ("hail_spark.session", "current_backend"),
    "debug_info": ("hail_spark.session", "debug_info"),
    "copy_log": ("hail_spark.session", "copy_log"),
    "_set_flags": ("hail_spark.session", "_set_flags"),
    "_get_flags": ("hail_spark.session", "_get_flags"),
    "_with_flags": ("hail_spark.session", "_with_flags"),
    # engine extensions beyond reference parity — discoverable as
    # hail_spark.llmdata / .relational / .sketches / ... (each module's
    # docstring is the user-facing inventory)
    "llmdata": ("hail_spark.llmdata", None),
    "relational": ("hail_spark.operators.relational", None),
    "sketches": ("hail_spark.operators.sketches", None),
    "graph": ("hail_spark.operators.graph", None),
    "validate": ("hail_spark.operators.validate", None),
    "layout": ("hail_spark.io.layout", None),
    "abtest": ("hail_spark.operators.abtest", None),
    "incremental": ("hail_spark.operators.incremental", None),
    "denoise": ("hail_spark.llmdata.denoise", None),
    "chat": ("hail_spark.llmdata.chat", None),
}

# the whole hl.methods surface is also reachable at top level, as in the
# reference (`from .methods import *` in hail/__init__.py)
_METHODS_TOPLEVEL = (
    "read_table read_matrix_table import_table import_csv import_lines import_avro import_jsonl export_jsonl "
    "import_bed import_fam import_locus_intervals import_matrix_table import_gen "
    "export_gen import_bgen index_bgen export_bgen import_plink export_plink "
    "import_vcf export_vcf get_vcf_header_info get_vcf_metadata import_gvcf_interval "
    "export_elasticsearch grep "
    "split_multi split_multi_hts filter_alleles filter_alleles_hts trio_matrix "
    "mendel_errors de_novo transmission_disequilibrium_test impute_sex concordance "
    "balding_nichols_model sample_qc variant_qc summarize_variants compute_charr "
    "vep nirvana vep_json_typ VEPConfig VEPConfigGRCh37Version85 VEPConfigGRCh38Version95 "
    "pca hwe_normalized_pca _blanczos_pca _hwe_normalized_blanczos _spectral_moments "
    "_pca_and_moments linear_regression_rows logistic_regression_rows "
    "poisson_regression_rows linear_mixed_model linear_mixed_regression_rows "
    "skat _linear_skat _logistic_skat _linear_regression_rows_nd "
    "_logistic_regression_rows_nd "
    "identity_by_descent king pc_relate genetic_relatedness_matrix "
    "realized_relationship_matrix row_correlation simulate_random_mating "
    "ld_matrix ld_prune maximal_independent_set filter_intervals segment_intervals "
    "lambda_gc rename_duplicates"
).split()
for _n in _METHODS_TOPLEVEL:
    _LAZY.setdefault(_n, ("hail_spark.methods", _n))
del _n


def cite_hail() -> str:
    return citation(bibtex=False)


def cite_hail_bibtex() -> str:
    return citation(bibtex=True)


__pip_version__ = __version__
__revision__ = "unknown"


def __getattr__(name: str):
    """Lazy top-level exports — heavier submodules (numpy/pandas users)
    load on first touch, keeping bare `import hail_spark` light."""
    if name in _LAZY:
        import importlib

        mod_name, attr = _LAZY[name]
        mod = importlib.import_module(mod_name)
        return mod if attr is None else getattr(mod, attr)
    raise AttributeError(f"module 'hail_spark' has no attribute '{name}'")
