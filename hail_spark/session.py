"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen so the same code scales to a real cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the pandas-UDF
slow path, and shuffle partitions sized to the local core count instead
of Spark's default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory: the driver JVM shares the host
    with its Python workers and the OS page cache, so a fixed size
    (Spark heaps grow toward it) can exceed a small machine's RAM."""
    return f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**21}m"


_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # last-wins duplicate map keys (Hail dict-build semantics; also lets
    # map_from_entries-based aggregators keep one value per key)
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
    # Python workers unpickle functions defined in hail_spark modules,
    # so they need the package's parent dir on their path even when
    # the user never exported PYTHONPATH
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
}


def get_spark(app_name: str = "hail_spark", **extra: str) -> SparkSession:
    """Return (creating if needed) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**_DEFAULTS, **extra}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def init(
    sc=None,
    app_name: str | None = None,
    master: str | None = None,
    local: str | None = None,
    log: str | None = None,
    quiet: bool = False,
    show_progress: bool | None = None,
    append: bool = False,
    min_block_size: int | None = None,
    branching_factor: int = 50,
    tmp_dir: str | None = None,
    default_reference: str | None = None,
    idempotent: bool = False,
    global_seed: int | None = None,
    spark_conf: dict | None = None,
    **extra: str,
) -> SparkSession:
    """Parity for ``hl.init`` (ref context.py:190): accepts the
    reference's keyword surface.  ``master``/``local`` select the Spark
    master, ``spark_conf``/``extra`` become session configs,
    ``default_reference`` sets the genome registry default,
    ``global_seed`` seeds the rand_* family, ``tmp_dir`` overrides the
    scratch root; log/quiet/show_progress/append/min_block_size/
    branching_factor are no-ops here (Spark's logging + AQE replace
    them)."""
    conf = {**(spark_conf or {}), **extra}
    m = master or local
    if m is not None:
        os.environ["SPARK_GRAFT_MASTER"] = m
    if tmp_dir is not None:
        os.environ["SPARK_GRAFT_TMP_DIR"] = tmp_dir
    spark = get_spark(app_name or "hail_spark", **conf)
    if default_reference is not None:
        from .expr.genome import default_reference as _set_default

        _set_default(default_reference)
    if global_seed is not None:
        from .expr.functions import set_global_seed

        set_global_seed(global_seed)
    return spark


init_spark = init
init_local = init


def stop() -> None:
    """Parity alias for ``hl.stop``: stop the active session."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def spark_context():
    """Parity alias for ``hl.spark_context`` (ref context.py)."""
    return get_spark().sparkContext


def tmp_dir() -> str:
    """Parity alias for ``hl.tmp_dir``: the engine scratch directory
    (hl.init(tmp_dir=...) overrides)."""
    import tempfile

    return os.environ.get("SPARK_GRAFT_TMP_DIR", tempfile.gettempdir())


# ------------------------------------------------------------------ #
# query-flags registry + backend handle (ref context.py:863-983)
# ------------------------------------------------------------------ #
_FLAGS: dict[str, str | None] = {}


def _set_flags(**flags) -> None:
    """Parity for hl._set_flags: flags whose names match Spark SQL conf
    keys (dotted) are forwarded to the live session conf; others are
    recorded in a process-local registry (the reference keeps them on
    the backend object)."""
    spark = SparkSession.getActiveSession()
    for k, v in flags.items():
        _FLAGS[k] = v
        if spark is not None and "." in k:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _get_flags(*flags) -> dict:
    if not flags:
        return dict(_FLAGS)
    return {k: _FLAGS.get(k) for k in flags}


class _WithFlags:
    def __init__(self, flags):
        self._flags = flags
        self._before = {}

    def __enter__(self):
        self._before = _get_flags(*self._flags)
        _set_flags(**self._flags)

    def __exit__(self, *exc):
        _set_flags(**self._before)
        return False


def _with_flags(**flags):
    """Context manager: set flags, restore prior values on exit."""
    return _WithFlags(flags)


class _FS:
    """Filesystem handle parity (ref backend fs attribute): routes to
    the hadoop_* utils (fsspec-or-local)."""

    def open(self, path, mode="r", buffer_size=8192):
        from .utils import hadoop_open

        return hadoop_open(path, mode, buffer_size)

    def exists(self, path):
        from .utils import hadoop_exists

        return hadoop_exists(path)

    def is_file(self, path):
        from .utils import hadoop_is_file

        return hadoop_is_file(path)

    def is_dir(self, path):
        from .utils import hadoop_is_dir

        return hadoop_is_dir(path)

    def ls(self, path):
        from .utils import hadoop_ls

        return hadoop_ls(path)

    def stat(self, path):
        from .utils import hadoop_stat

        return hadoop_stat(path)

    def copy(self, src, dest):
        from .utils import hadoop_copy

        return hadoop_copy(src, dest)


class SparkBackend:
    """Backend handle parity (ref backend/spark_backend.py): this
    engine has exactly one backend — the live SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.fs = _FS()

    @property
    def sc(self):
        return self.spark.sparkContext

    def set_flags(self, **flags):
        _set_flags(**flags)

    def get_flags(self, *flags):
        return _get_flags(*flags)

    def stop(self):
        self.spark.stop()


def backend() -> SparkBackend:
    """Parity for hl.backend()/hl.current_backend()."""
    return SparkBackend(get_spark())


current_backend = backend


def debug_info() -> dict:
    """Parity for hl.debug_info (ref context.py:965): version + the
    full Spark conf instead of JVM jar/classpath details."""
    from . import __version__

    spark = SparkSession.getActiveSession()
    return {
        "version": __version__,
        "spark_version": spark.version if spark else None,
        "spark_conf": spark.sparkContext.getConf().getAll() if spark else None,
        "flags": dict(_FLAGS),
    }


def copy_log(path: str) -> None:
    """Parity for hl.copy_log: copy the driver log4j output (when one
    exists) or write debug_info as a fallback record."""
    import glob
    import json
    import shutil as _sh

    candidates = sorted(glob.glob("derby.log") + glob.glob("*.log"))
    if candidates:
        _sh.copyfile(candidates[0], path)
    else:
        with open(path, "w") as f:
            json.dump(debug_info(), f, default=str)
