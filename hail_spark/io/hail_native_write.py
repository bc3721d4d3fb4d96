"""Write reference-readable native ``.ht`` / ``.mt`` directories.

Interop off-ramp (complement of io/hail_native.py's on-ramp): encode a
Table / MatrixTable into the reference engine's PUBLIC on-disk format
so a user moving data back to hail-is/hail can read it with plain
``hl.read_table`` — no export through text formats.

What gets written (reference cites):

* ``metadata.json.gz`` — a ``TableSpec`` / ``MatrixTableSpec``
  (expr/ir/AbstractMatrixTableSpec.scala:95-235). ``file_version``
  67328 (semantic 1.7.0 — readable by every reference version that can
  write it, and the format is back-compatible forward). A MatrixTable
  is four NESTED TableSpec dirs (globals/cols/rows/entries), exactly as
  MatrixTableSpec.fromJValue reads them (:162-190).
* RVDs — ``OrderedRVDSpec2`` (rvd/AbstractRVDSpec.scala:578): no index
  files required (the reference's reader accepts unindexed RVDs; it
  only needs the index for point queries).
* codec — ``TypedCodecSpec`` with legacy full-width encodings
  (``EBinary``/``EArray`` int32 lengths — both spellings parse in the
  reference's EType grammar, encoded/EType.scala:455) over
  ``BlockingBufferSpec(65536, StreamBlockBufferSpec)`` (uncompressed
  blocks: [int32 LE len][bytes]; values never straddle a block, per the
  BlockingOutputBuffer contract InputBuffers.scala:326).
* rows — per row a ``1`` byte then the encoded row, ``0`` terminator
  (sparkextras RichContextRDDRegionValue.scala:51,62).

Type mapping is the inverse of the reader's: every Spark field becomes
an OPTIONAL virtual field (int→Int32, bigint→Int64, float→Float32,
double→Float64, string→String, boolean→Boolean, array<T>→Array[T],
map<K,V>→Dict[K,V] (entries sorted by key, as the reference stores
dicts), struct→Struct). Loci/intervals/calls round-trip as their plain
struct/int representations — the reference reads them as such.

Verification honesty: no reference installation exists in this
environment, so conformance is established by (a) byte-level round-trip
through io/hail_native.py — the SAME decoder that reads the
reference's own backward-compat corpus value-exactly (116/116 fixtures)
— and (b) structural JSON equality of the metadata against a real
reference-written fixture (tests/test_hail_native.py).

Spark shape: one task per input partition encodes and writes its own
part file (map-only); only per-partition key bounds and counts return
to the driver.
"""

from __future__ import annotations

import gzip
import json
import os
import struct

from pyspark.sql import types as T

from ..matrixtable import ENTRIES

_BLOCK = 65536
_FILE_VERSION = 67328  # semantic 1.7.0
_HAIL_VERSION = "0.2.115-compat-hail_spark"

_BUFFER_SPEC = {
    "name": "BlockingBufferSpec",
    "blockSize": _BLOCK,
    "child": {"name": "StreamBlockBufferSpec"},
}


# ------------------------------------------------------------------ #
# Spark schema → virtual/encoded type strings
# ------------------------------------------------------------------ #

def _needs_backtick(name: str) -> bool:
    import re

    return not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name)


def _fname(name: str) -> str:
    return f"`{name}`" if _needs_backtick(name) else name


def spark_to_vtype_str(dt: T.DataType) -> str:
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, T.BinaryType):
        return "Binary"
    if isinstance(dt, T.BooleanType):
        return "Boolean"
    if isinstance(dt, T.ArrayType):
        return f"Array[{spark_to_vtype_str(dt.elementType)}]"
    if isinstance(dt, T.MapType):
        return (
            f"Dict[{spark_to_vtype_str(dt.keyType)},"
            f"{spark_to_vtype_str(dt.valueType)}]"
        )
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{_fname(f.name)}:{spark_to_vtype_str(f.dataType)}" for f in dt.fields
        )
        return "Struct{" + inner + "}"
    if isinstance(dt, (T.ShortType, T.ByteType)):
        return "Int32"
    raise NotImplementedError(f"cannot export Spark type {dt.simpleString()}")


def spark_to_etype_str(dt: T.DataType, required: bool = False) -> str:
    r = "+" if required else ""
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return r + "EInt32"
    if isinstance(dt, T.LongType):
        return r + "EInt64"
    if isinstance(dt, T.FloatType):
        return r + "EFloat32"
    if isinstance(dt, T.DoubleType):
        return r + "EFloat64"
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return r + "EBinary"
    if isinstance(dt, T.BooleanType):
        return r + "EBoolean"
    if isinstance(dt, T.ArrayType):
        return f"{r}EArray[{spark_to_etype_str(dt.elementType)}]"
    if isinstance(dt, T.MapType):
        # Dict = sorted array of required {key, value} structs
        # (LegacyEncodedTypeParser.scala:70)
        k = spark_to_etype_str(dt.keyType)
        v = spark_to_etype_str(dt.valueType)
        return f"{r}EArray[+EBaseStruct{{key:{k},value:{v}}}]"
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{_fname(f.name)}:{spark_to_etype_str(f.dataType)}" for f in dt.fields
        )
        return r + "EBaseStruct{" + inner + "}"
    raise NotImplementedError(f"cannot export Spark type {dt.simpleString()}")


# ------------------------------------------------------------------ #
# encoder (BlockingOutputBuffer over StreamBlockBufferSpec)
# ------------------------------------------------------------------ #

class _EBuf:
    def __init__(self, out):
        self.out = out
        self.cur = bytearray()

    def _flush_block(self):
        if self.cur:
            self.out.write(struct.pack("<i", len(self.cur)))
            self.out.write(self.cur)
            self.cur = bytearray()

    def write_value(self, b: bytes):
        """A primitive that must not straddle a block boundary."""
        if len(self.cur) + len(b) > _BLOCK:
            self._flush_block()
        self.cur += b

    def write_raw(self, b: bytes):
        """Byte content (binary/string payloads) — may straddle blocks
        (the reader's readBytes refills across blocks)."""
        off = 0
        while off < len(b):
            room = _BLOCK - len(self.cur)
            if room == 0:
                self._flush_block()
                room = _BLOCK
            take = min(room, len(b) - off)
            self.cur += b[off : off + take]
            off += take

    def byte(self, v: int):
        self.write_value(bytes([v]))

    def int32(self, v: int):
        self.write_value(struct.pack("<i", v))

    def int64(self, v: int):
        self.write_value(struct.pack("<q", v))

    def f32(self, v: float):
        self.write_value(struct.pack("<f", v))

    def f64(self, v: float):
        self.write_value(struct.pack("<d", v))

    def close(self):
        self._flush_block()


def _sort_key(v):
    if v is None:
        return (1, "")
    if isinstance(v, (list, tuple)):
        return (0, tuple(_sort_key(x) for x in v))
    return (0, v)


def _encode(buf: _EBuf, dt: T.DataType, v):
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        buf.int32(int(v))
    elif isinstance(dt, T.LongType):
        buf.int64(int(v))
    elif isinstance(dt, T.FloatType):
        buf.f32(float(v))
    elif isinstance(dt, T.DoubleType):
        buf.f64(float(v))
    elif isinstance(dt, T.BooleanType):
        buf.byte(1 if v else 0)
    elif isinstance(dt, (T.StringType, T.BinaryType)):
        raw = v if isinstance(v, (bytes, bytearray)) else v.encode("utf-8")
        buf.int32(len(raw))
        buf.write_raw(bytes(raw))
    elif isinstance(dt, T.ArrayType):
        _encode_array(buf, dt.elementType, list(v))
    elif isinstance(dt, T.MapType):
        items = sorted(v.items(), key=lambda kv: _sort_key(kv[0]))
        st = T.StructType(
            [
                T.StructField("key", dt.keyType),
                T.StructField("value", dt.valueType),
            ]
        )
        # element struct is REQUIRED → no element missing bits needed,
        # but we declared elements of EArray[+EBaseStruct...]: required
        n = len(items)
        buf.int32(n)
        for k, val in items:
            _encode_struct(buf, st, {"key": k, "value": val})
    elif isinstance(dt, T.StructType):
        _encode_struct(buf, dt, v)
    else:
        raise NotImplementedError(dt.simpleString())


def _encode_array(buf: _EBuf, elem_dt: T.DataType, vals: list):
    n = len(vals)
    buf.int32(n)
    nbytes = (n + 7) // 8
    mb = bytearray(nbytes)
    for i, x in enumerate(vals):
        if x is None:
            mb[i >> 3] |= 1 << (i & 7)
    buf.write_raw(bytes(mb))
    for x in vals:
        if x is not None:
            _encode(buf, elem_dt, x)


def _encode_struct(buf: _EBuf, st: T.StructType, v):
    if hasattr(v, "asDict"):
        v = v.asDict()
    n = len(st.fields)
    nbytes = (n + 7) // 8
    mb = bytearray(nbytes)
    for i, f in enumerate(st.fields):
        if v.get(f.name) is None:
            mb[i >> 3] |= 1 << (i & 7)
    buf.write_raw(bytes(mb))
    for f in st.fields:
        x = v.get(f.name)
        if x is not None:
            _encode(buf, f.dataType, x)


def _write_part(path: str, schema: T.StructType, rows) -> int:
    n = 0
    with open(path, "wb") as f:
        buf = _EBuf(f)
        for r in rows:
            buf.byte(1)
            _encode_struct(buf, schema, r)
            n += 1
        buf.byte(0)
        buf.close()
    return n


def _write_json_gz(path: str, obj: dict):
    with gzip.open(path, "wt") as f:
        json.dump(obj, f)


def _json_key(v):
    if hasattr(v, "asDict"):
        return {k: _json_key(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_key(x) for x in v]
    return v


# ------------------------------------------------------------------ #
# RVD + TableSpec writers
# ------------------------------------------------------------------ #

def _write_rvd(df, rvd_dir: str, key: tuple[str, ...], presorted: bool = False):
    """Encode df (one task per partition) as an OrderedRVDSpec2 RVD.
    Returns (part file names, per-partition counts, jRangeBounds)."""
    os.makedirs(os.path.join(rvd_dir, "parts"), exist_ok=True)
    schema = df.schema
    key = tuple(k for k in key if k in df.columns)
    if key and not presorted:
        df = df.orderBy(*key)  # range-partitioned + sorted
    parts_dir = os.path.join(rvd_dir, "parts")
    field_names = [f.name for f in schema.fields]
    key_list = list(key)

    def task(idx, it):
        name = f"part-{idx}"
        rows = []
        for r in it:
            rows.append(r.asDict())
        n = _write_part(os.path.join(parts_dir, name), schema, rows)
        lo = hi = None
        if key_list and rows:
            lo = {k: _json_key(rows[0][k]) for k in key_list}
            hi = {k: _json_key(rows[-1][k]) for k in key_list}
        yield (idx, name, n, json.dumps(lo), json.dumps(hi))

    results = sorted(df.rdd.mapPartitionsWithIndex(task).collect())
    # drop empty partitions (a 0-row part with null bounds confuses the
    # reference's partitioner import); keep at least one
    kept = [r for r in results if r[2] > 0] or results[:1]
    part_files, counts, bounds = [], [], []
    for i, (idx, name, n, lo_s, hi_s) in enumerate(kept):
        new_name = f"part-{i}"
        if new_name != name:
            os.replace(
                os.path.join(parts_dir, name), os.path.join(parts_dir, new_name)
            )
        part_files.append(new_name)
        counts.append(n)
        lo, hi = json.loads(lo_s), json.loads(hi_s)
        bounds.append(
            {
                "start": lo if lo is not None else {},
                "end": hi if hi is not None else {},
                "includeStart": True,
                "includeEnd": True,
            }
        )
    # remove any leftover empty part files
    keep_set = set(part_files)
    for fn in os.listdir(parts_dir):
        if fn not in keep_set:
            os.remove(os.path.join(parts_dir, fn))
    spec = {
        "name": "OrderedRVDSpec2",
        "_key": list(key),
        "_codecSpec": {
            "name": "TypedCodecSpec",
            "_eType": spark_to_etype_str(schema, required=True),
            "_vType": spark_to_vtype_str(schema),
            "_bufferSpec": _BUFFER_SPEC,
        },
        "_partFiles": part_files,
        "_jRangeBounds": bounds if key else [],
        "_attrs": {},
    }
    _write_json_gz(os.path.join(rvd_dir, "metadata.json.gz"), spec)
    return part_files, counts


def _write_table_spec(
    path: str,
    rows_df,
    key: tuple[str, ...],
    globals_row: dict,
    globals_schema: T.StructType,
    spark,
    presorted: bool = False,
):
    os.makedirs(path, exist_ok=True)
    _, counts = _write_rvd(rows_df, os.path.join(path, "rows"), key, presorted)
    gdf = spark.createDataFrame([globals_row], globals_schema)
    _write_rvd(gdf.coalesce(1), os.path.join(path, "globals"), ())
    table_type = (
        "Table{global:"
        + spark_to_vtype_str(globals_schema)
        + ",key:["
        + ",".join(key)
        + "],row:"
        + spark_to_vtype_str(rows_df.schema)
        + "}"
    )
    meta = {
        "name": "TableSpec",
        "file_version": _FILE_VERSION,
        "hail_version": _HAIL_VERSION,
        "references_rel_path": "references",
        "table_type": table_type,
        "components": {
            "globals": {"name": "RVDComponentSpec", "rel_path": "globals"},
            "rows": {"name": "RVDComponentSpec", "rel_path": "rows"},
            "partition_counts": {
                "name": "PartitionCountsComponentSpec",
                "counts": counts,
            },
        },
    }
    _write_json_gz(os.path.join(path, "metadata.json.gz"), meta)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    return counts


def _infer_type(v) -> T.DataType:
    """Spark type from a Python value; all-missing values fall back to
    string (a missing value decodes as None under any declared type, so
    only the declared type string loses fidelity, never the data)."""
    if v is None:
        return T.StringType()
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, bytes):
        return T.StringType()
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return T.StructType(
            [T.StructField(k, _infer_type(x)) for k, x in v.items()]
        )
    if isinstance(v, (list, tuple)):
        probe = next((x for x in v if x is not None), None)
        return T.ArrayType(_infer_type(probe))
    raise NotImplementedError(f"cannot infer export type for {type(v)}")


def _globals_schema_and_row(globals_: dict, spark):
    if not globals_:
        return T.StructType([]), {}
    schema = T.StructType(
        [T.StructField(k, _infer_type(v)) for k, v in globals_.items()]
    )
    return schema, globals_


def write_table(t, path: str):
    """Write a Table as a reference-readable ``.ht`` directory."""
    spark = t.df.sparkSession
    gschema, grow = _globals_schema_and_row(dict(getattr(t, "_globals", {}) or {}), spark)
    _write_table_spec(path, t.df, tuple(t._key), grow, gschema, spark)


def write_matrix_table(mt, path: str):
    """Write a MatrixTable as a reference-readable ``.mt`` directory:
    four nested TableSpecs (globals/cols/rows/entries) exactly as
    MatrixTableSpec.fromJValue reads them back."""
    spark = mt._df.sparkSession
    os.makedirs(path, exist_ok=True)
    gschema, grow = _globals_schema_and_row(dict(mt._globals or {}), spark)
    row_key = tuple(mt._row_key)
    col_key = tuple(mt._col_key)

    # sort ONCE and pin the partitioning, then project rows and entries
    # from the same checkpointed frame — their parts stay 1:1 aligned
    src = mt._df
    if row_key:
        src = src.orderBy(*row_key)
    src = src.localCheckpoint()
    rows_df = src.drop(ENTRIES)
    ent_field = "the entries! [hail_spark]"
    ents_df = src.select(src[ENTRIES].alias(ent_field))
    cols_df = mt._cols_frame()
    empty_g = ({}, T.StructType([]))  # (globals_row, globals_schema)

    # nested TableSpec dirs: the DATA of each component lives in that
    # nested table's ROWS (the MT globals are the globals table's row)
    _write_table_spec(
        os.path.join(path, "globals"),
        spark.createDataFrame([grow], gschema).coalesce(1),
        (), *empty_g, spark,
    )
    _write_table_spec(
        os.path.join(path, "cols"), cols_df.coalesce(1), col_key, *empty_g, spark
    )
    counts = _write_table_spec(
        os.path.join(path, "rows"), rows_df, row_key, *empty_g, spark,
        presorted=True,
    )
    _write_table_spec(
        os.path.join(path, "entries"), ents_df, (), *empty_g, spark
    )

    col_v = spark_to_vtype_str(cols_df.schema)
    row_v = spark_to_vtype_str(rows_df.schema)
    entry_v = spark_to_vtype_str(
        mt._df.schema[ENTRIES].dataType.elementType
    )
    matrix_type = (
        "Matrix{global:"
        + spark_to_vtype_str(gschema)
        + ",col_key:[" + ",".join(col_key) + "]"
        + ",col:" + col_v
        + ",row_key:[[" + "],[".join(row_key) + "]]"
        + ",row:" + row_v
        + ",entry:" + entry_v
        + "}"
    )
    meta = {
        "name": "MatrixTableSpec",
        "file_version": _FILE_VERSION,
        "hail_version": _HAIL_VERSION,
        "references_rel_path": "references",
        "matrix_type": matrix_type,
        "components": {
            "globals": {"name": "RVDComponentSpec", "rel_path": "globals/rows"},
            "cols": {"name": "RVDComponentSpec", "rel_path": "cols/rows"},
            "rows": {"name": "RVDComponentSpec", "rel_path": "rows/rows"},
            "entries": {"name": "RVDComponentSpec", "rel_path": "entries/rows"},
            "partition_counts": {
                "name": "PartitionCountsComponentSpec",
                "counts": counts,
            },
        },
    }
    _write_json_gz(os.path.join(path, "metadata.json.gz"), meta)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
