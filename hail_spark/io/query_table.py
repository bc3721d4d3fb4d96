"""query_table — point/range lookups into a written native table
WITHOUT a Spark job.

Parity target: ``hl.query_table`` / ``hl.query_matrix_table_rows``
(ref functions.py:7245/7295), which read the reference's per-partition
key b-tree index (hail/hail/src/is/hail/io/index/IndexReader.scala)
driver-side. Our native format is key-sorted parquet (Table.write,
table.py), so the equivalent index is parquet row-group min/max
statistics: this module opens the parquet footer(s) with pyarrow,
prunes row groups whose [min, max] key interval misses the probe, reads
only the surviving groups, and selects their matching rows with one
Arrow compute mask over the key column (no per-row Python work) —
O(row-group) driver-side I/O, no cluster round trip, exactly the
latency class of the reference's indexed reads.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _key_meta(path: str) -> list[str]:
    with open(os.path.join(path, "_hail_spark_metadata.json")) as f:
        return json.load(f)["key"]


def _row_group_bounds(pf: pq.ParquetFile, field: str):
    """(min, max) per row group for one top-level field, None where
    stats are absent. Statistics live on parquet LEAF columns, whose
    numbering differs from the top-level field order as soon as a
    nested column precedes the field, so the leaf is resolved by its
    path; a nested field has no single leaf and gets no bounds."""
    leaf = next(
        (i for i in range(pf.metadata.num_columns) if pf.schema.column(i).path == field),
        None,
    )
    out = []
    for rg in range(pf.metadata.num_row_groups):
        st = None if leaf is None else pf.metadata.row_group(rg).column(leaf).statistics
        out.append((st.min, st.max) if st is not None and st.has_min_max else None)
    return out


_MANIFEST_NAME = "_key_manifest.json"
_JSONABLE = (int, float, str, bool)


def build_key_manifest(path: str, key: list[str]) -> bool:
    """Write a per-file first-key [min, max] manifest
    (``_key_manifest.json``) next to a native table's metadata — one
    driver-side footer pass at WRITE time so point/range lookups skip
    the file listing + footer reads entirely (at 10^5 files that is
    the dominant lookup cost; the reference persists partition bounds
    in its table spec for the same reason —
    AbstractRVDSpec.scala:224). Returns True if written; keys whose
    parquet stats aren't JSON-primitive (dates, decimals, binary) skip
    the manifest and lookups fall back to footer pruning. A skipped
    build also REMOVES any manifest left by a previous write of the
    same path, so an overwrite can never leave a stale one behind."""

    def _skip() -> bool:
        try:
            os.remove(os.path.join(path, _MANIFEST_NAME))
        except OSError:
            pass
        return False

    if not key:
        return _skip()
    k0 = key[0]
    entries = {}
    for fp in sorted(glob.glob(os.path.join(path, "rows", "*.parquet"))):
        pf = pq.ParquetFile(fp)
        if k0 not in pf.schema_arrow.names:
            return _skip()
        fmin, fmax = None, None
        for b in _row_group_bounds(pf, k0):
            if b is None:
                fmin, fmax = None, None
                break
            fmin = b[0] if fmin is None or b[0] < fmin else fmin
            fmax = b[1] if fmax is None or b[1] > fmax else fmax
        if fmin is None or not (
            isinstance(fmin, _JSONABLE) and isinstance(fmax, _JSONABLE)
        ):
            return _skip()  # no/unsupported stats — never a partial lie
        entries[os.path.basename(fp)] = [fmin, fmax]
    with open(os.path.join(path, _MANIFEST_NAME), "w") as f:
        json.dump({"key_field": k0, "files": entries}, f)
    return True


def _manifest_files(path: str, k0: str, lo, hi) -> list[str] | None:
    """File list pruned by the persisted manifest, or None when no
    usable manifest exists (fall back to listing + footer pruning).
    Files written after the manifest (not listed in it) are never
    silently skipped — their presence invalidates the manifest."""
    mp = os.path.join(path, _MANIFEST_NAME)
    if not os.path.exists(mp):
        return None
    try:
        with open(mp) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if m.get("key_field") != k0:
        return None
    listed = m.get("files", {})
    actual = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(path, "rows", "*.parquet"))
    }
    if set(listed) != actual:
        return None  # stale manifest — correctness beats the shortcut
    if listed and not (
        isinstance(lo, _JSONABLE) and isinstance(hi, _JSONABLE)
    ):
        return None  # probe type can't compare against JSON bounds
    try:
        return sorted(
            os.path.join(path, "rows", name)
            for name, (fmin, fmax) in listed.items()
            if fmin <= hi and fmax >= lo
        )
    except TypeError:
        # JSON-primitive but incomparable probe (str probe vs int
        # bounds, mixed interval endpoints): degrade to footer pruning
        # instead of surfacing a comparison error
        return None


def query_table(path: str, point=None, interval: tuple | None = None) -> list[dict]:
    """Rows whose first key equals ``point`` (or lies in ``interval=(lo,
    hi)``, inclusive) in a Table.write output dir, read on the driver.

    The key manifest picks candidate files, row-group min/max stats prune
    within them, and one Arrow mask selects the rows of the groups read;
    null and NaN keys never match. A struct, list or map first key (e.g.
    a MatrixTable's ``locus``) raises ValueError before any data is read."""
    if (point is None) == (interval is None):
        raise ValueError("exactly one of point / interval is required")
    key = _key_meta(path)
    if not key:
        raise ValueError("query_table requires a keyed table")
    k0 = key[0]
    lo, hi = (point, point) if interval is None else interval

    files = _manifest_files(path, k0, lo, hi)
    if files is None:
        files = sorted(glob.glob(os.path.join(path, "rows", "*.parquet")))
    rows: list[dict] = []
    for fp in files:
        pf = pq.ParquetFile(fp)
        if pa.types.is_nested(ktype := pf.schema_arrow.field(k0).type):
            raise ValueError(f"query_table: key field {k0!r} has non-scalar type {ktype}; "
                             "only a scalar first key can be probed")
        groups = [
            rg
            for rg, b in enumerate(_row_group_bounds(pf, k0))
            if b is None or (b[0] <= hi and b[1] >= lo)
        ]
        if not groups:
            continue
        tbl = pf.read_row_groups(groups)
        col = tbl.column(k0)
        rows.extend(tbl.filter(pc.and_(pc.greater_equal(col, lo), pc.less_equal(col, hi))).to_pylist())
    return rows


def query_matrix_table_rows(
    path: str,
    point=None,
    interval: tuple | None = None,
    entries_name: str = "entries",
) -> list[dict]:
    """Point/interval reads into a written MatrixTable WITHOUT a Spark
    job (ref ``hl.query_matrix_table_rows``, functions.py:7295): the
    same row-group-pruned pyarrow read as :func:`query_table` over the
    MT's rows dir (our MT layout is a keyed table whose rows carry the
    entries array), with the entries field surfaced under
    ``entries_name`` — the reference's parameter for the same rename."""
    rows = query_table(path, point=point, interval=interval)
    # on disk the entries array lives under the internal reserved name
    # (matrixtable.ENTRIES == "__entries"); surface it as entries_name
    for r in rows:
        if "__entries" in r:
            r[entries_name] = r.pop("__entries")
    return rows


def matrix_table_cols(path: str) -> list[dict]:
    """Column table of a written MatrixTable, read driver-side from the
    metadata sidecar (cols live in ``_matrix_metadata.json`` — no data
    file I/O at all, matching the reference where cols are part of the
    matrix spec, not a partitioned dataset)."""
    with open(os.path.join(path, "_matrix_metadata.json")) as f:
        return json.load(f)["cols"]


def table_stats(path: str) -> dict[str, Any]:
    """Partition/row-group manifest of a native table — the analogue of
    the reference's partition-bounds metadata (AbstractRVDSpec.scala:224)."""
    key = _key_meta(path)
    files = sorted(glob.glob(os.path.join(path, "rows", "*.parquet")))
    n_rows, n_groups, bounds = 0, 0, []
    for fp in files:
        pf = pq.ParquetFile(fp)
        n_rows += pf.metadata.num_rows
        n_groups += pf.metadata.num_row_groups
        if key:
            for b in _row_group_bounds(pf, key[0]):
                if b:
                    bounds.append(b)
    return {
        "key": key,
        "n_files": len(files),
        "n_rows": n_rows,
        "n_row_groups": n_groups,
        "key_bounds": bounds,
    }


def parquet_stats(spark, path: str, cols: list[str]):
    """min/max per column + row count answered from PARQUET FOOTER
    METADATA — no row scan. Routes the read through the v2 parquet
    source with ``spark.sql.parquet.aggregatePushdown`` so the plan's
    BatchScan carries PushedAggregation (asserted in
    tests/test_query_table_stats.py) and each file contributes only
    its footer stats; at 100 TB that is thousands of footer reads
    instead of a full scan. Returns one Row with ``<c>_min``,
    ``<c>_max`` per column and ``n_rows``.

    The two session confs are flipped and RESTORED around the one
    collect (session-global — don't call concurrently with other
    planning on the same session)."""
    from pyspark.sql import functions as F

    conf = spark.conf
    old_v1 = conf.get("spark.sql.sources.useV1SourceList", None)
    old_pd = conf.get("spark.sql.parquet.aggregatePushdown", None)
    try:
        conf.set(
            "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
        )
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet(path)
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"{c}_min"))
            aggs.append(F.max(c).alias(f"{c}_max"))
        aggs.append(F.count(F.lit(1)).alias("n_rows"))
        return df.agg(*aggs).collect()[0]
    finally:
        for k, v in (
            ("spark.sql.sources.useV1SourceList", old_v1),
            ("spark.sql.parquet.aggregatePushdown", old_pd),
        ):
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
